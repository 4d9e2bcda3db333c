"""The benchmark's workloads, each called through the package's public
functions exactly as a user would call them.

- ``job_small_docs``: the ``job.py`` path — ``spansify_documents`` then
  ``lineage.run_with_checkpoint`` around ``pipeline.extract_documents``
  into a fresh output directory. Small documents, so per-batch fixed
  costs (re-scan, planning, write commit, read-back, ack) dominate.
- ``extract_large_docs``: ``pipeline.extract_documents`` alone into the
  ``noop`` sink, over heavy-tailed documents stored as span arrays.
  Per-span work and the mega-document straggler dominate.
- ``incremental_refresh``: ``incremental.incremental_extract`` of an
  edited snapshot against the parquet extraction of the previous one.
  Fingerprinting, the anti/semi joins and the carry-forward dominate;
  only the delta crosses the Arrow boundary.

Each workload generates its inputs from the seed in ``setup``, runs one
timed pass in ``run_pass`` and checks the pass's output afterwards.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path
from statistics import quantiles

from pyspark.sql import Observation
from pyspark.sql import functions as F

from blackedge_ocr_spark import oracle
from blackedge_ocr_spark.constants import MEDIA_KINDS, VALIDATING_WORKFLOWS
from blackedge_ocr_spark.datagen import spansify_documents, spansify_frame
from blackedge_ocr_spark.incremental import incremental_extract
from blackedge_ocr_spark.lineage import run_with_checkpoint
from blackedge_ocr_spark.pipeline import extract_documents

import gen

ORACLE_SAMPLE = 200


def extract(df):
    return extract_documents(df, query_col="query")


def fact_exprs(with_refreshed: bool = False) -> list:
    """Counts over an output table; the same expressions serve as
    observed metrics on the noop sink and as a query on parquet."""
    media = F.size(F.filter("out_spans", lambda s: s["kind"].isin(*MEDIA_KINDS)))
    validating = F.col("workflow").isin(*VALIDATING_WORKFLOWS)
    ran_secondary = validating & (media > 0)
    exprs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64("doc_id").bitwiseAND(0xFFFFFFFF)).alias("id_hash"),
        F.sum((F.size("problems") > 0).cast("long")).alias("flagged"),
        F.count("similarity").alias("scored"),
        F.sum(media).alias("media_primary"),
        F.sum(F.when(validating, media).otherwise(0)).alias("media_secondary"),
        F.sum(ran_secondary.cast("long")).alias("secondary_ran"),
        F.sum((ran_secondary & F.col("used_secondary")).cast("long")).alias(
            "secondary_useful"),
        F.sum(F.octet_length("content")).alias("content_bytes"),
    ]
    if with_refreshed:
        exprs.append(F.sum(F.col("refreshed").cast("long")).alias("refreshed"))
    return exprs


def id_hash(spark, doc_ids) -> int:
    df = spark.createDataFrame([(str(d),) for d in doc_ids], "doc_id string")
    return df.agg(F.sum(F.xxhash64("doc_id").bitwiseAND(0xFFFFFFFF))).first()[0]


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*")
               if p.is_file() and not p.name.startswith((".", "_")))


def oracle_mismatches(inputs: dict, outputs: dict, refreshed=None) -> list[str]:
    """Doc ids whose output differs from ``oracle.expected_result`` in
    any field. inputs: {doc_id: (spans, query)}; outputs: {doc_id: Row};
    refreshed: {doc_id: expected refreshed flag} or None."""
    bad = []
    for doc_id, (spans, query) in sorted(inputs.items()):
        exp = oracle.expected_result(doc_id, spans, query)
        got = outputs.get(doc_id)
        if got is None:
            bad.append(f"{doc_id}: missing")
            continue
        fields = {
            "out_spans": [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in got["out_spans"]],
            "problems": [(p["offset"], list(p["labels"])) for p in got["problems"]],
        }
        for key in ("workflow", "content", "used_secondary", "reason",
                    "pages", "provider"):
            fields[key] = got[key]
        wrong = [k for k, v in fields.items() if v != exp[k]]
        if (exp["similarity"] is None) != (got["similarity"] is None) or (
            exp["similarity"] is not None
            and abs(exp["similarity"] - got["similarity"]) > 1e-12
        ):
            wrong.append("similarity")
        if refreshed is not None and got["refreshed"] != refreshed[doc_id]:
            wrong.append("refreshed")
        if wrong:
            bad.append(f"{doc_id}: {','.join(wrong)}")
    return bad


def span_tuples(row) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]


def describe(spans_df, delta: int | None = None) -> dict:
    """Input properties a later change can cite: docs, spans per doc,
    media share, validating share (and delta share)."""
    rows = spans_df.select(
        F.size("spans").alias("n"),
        F.size(F.filter("spans", lambda s: s["kind"].isin(*MEDIA_KINDS))).alias("m"),
        "query",
    ).collect()
    sizes = sorted(r["n"] for r in rows)
    pct = quantiles(sizes, n=100, method="inclusive")
    validating = sum(oracle.route_workflow(r["query"]) in VALIDATING_WORKFLOWS
                     for r in rows)
    out = {
        "docs": len(rows),
        "spans_p50": pct[49], "spans_p99": pct[98], "spans_max": sizes[-1],
        "spans_total": sum(sizes),
        "media_share": sum(r["m"] for r in rows) / max(sum(sizes), 1),
        "validating_share": validating / len(rows),
    }
    if delta is not None:
        out["delta_share"] = delta / len(rows)
    return out


class Workload:
    """One workload: ``setup`` makes the inputs, ``inspect`` records
    their properties and expected ids (after warm-up, so it runs warm),
    ``run_pass`` is the timed call, ``facts``/``check`` read the pass's
    output afterwards."""

    name = ""
    warmup_passes = 1

    def __init__(self, spark, rec, work: Path, seed: int):
        self.spark, self.rec, self.work, self.seed = spark, rec, work, seed
        self.inputs = work / "inputs"
        self.properties: dict = {}

    def warm_pass(self, out: Path) -> None:
        self.run_pass(out)

    def rebind(self, spark, rec) -> None:
        self.spark, self.rec = spark, rec

    def sample_ids(self, ids) -> list:
        rng = random.Random(f"sample:{self.seed}")
        return sorted(rng.sample(sorted(ids), min(ORACLE_SAMPLE, len(ids))))

    def id_failures(self, facts: dict, distinct: int | None = None) -> int:
        """Docs missing from the output or present more than once, from
        the row count, the distinct-id count and the id hash sum."""
        rows = facts["rows"] or 0
        ok = rows == self.n_docs and facts["id_hash"] == self.expected_hash
        if distinct is not None:
            ok = ok and distinct == self.n_docs
        if ok:
            return 0
        print(f"check failed: {rows} rows, {distinct} distinct ids, "
              f"expected {self.n_docs} docs once each", file=sys.stderr)
        return max(abs(rows - self.n_docs), (rows - (distinct or rows)), 1)


class JobSmallDocs(Workload):
    name = "job_small_docs"
    n_docs = 1000
    # job.py's 16 buckets in two batches, not its four: a batch costs
    # ~7 s here at any size, and four no longer fit a run's time budget.
    # Two still repeat every per-batch cost (re-scan, plan, commit, ack).
    n_buckets = 16
    buckets_per_batch = 8

    def setup(self) -> None:
        docs = gen.small_docs(self.seed, self.n_docs, gen.load_texts())
        self.src = self.inputs / "job"
        gen.write_parquet(gen.text_table(docs), self.src / "documents.parquet")
        self.input_location = str(self.src)
        self.doc_ids = list(docs)

    def inspect(self) -> None:
        self.expected_hash = id_hash(self.spark, self.doc_ids)
        self.properties = describe(spansify_documents(self.spark, str(self.src)))

    def warm_pass(self, out: Path) -> None:
        # A cold batch costs about the same at any size, so a first
        # pass of both batches would spend twice as long warming the
        # same code; the second batch runs the plans of the first.
        self.run_pass(out, max_batches=1)

    def run_pass(self, out: Path, max_batches: int | None = None) -> None:
        rec = self.rec
        docs = rec.wrap("spansify_documents", "datagen", spansify_documents)(
            self.spark, str(self.src))
        transform = rec.wrap("extract_documents", "pipeline", extract)
        with rec.span("run_with_checkpoint", "lineage"):
            run_with_checkpoint(
                self.spark, docs, transform, str(out),
                n_buckets=self.n_buckets,
                buckets_per_batch=self.buckets_per_batch,
                max_batches=max_batches,
            )

    def facts(self, out: Path) -> dict:
        data = self.spark.read.parquet(str(out / "data"))
        row = data.agg(*fact_exprs(), F.countDistinct("doc_id").alias("distinct")).first()
        facts = row.asDict()
        facts["lineage_docs"] = self.spark.read.parquet(str(out / "_lineage")).agg(
            F.sum("n_docs")).first()[0]
        facts["out_bytes"] = dir_bytes(out)
        return facts

    def check(self, facts: dict) -> int:
        failed = self.id_failures(facts, facts["distinct"])
        if facts["lineage_docs"] != self.n_docs:
            print(f"check failed: _lineage n_docs sums to {facts['lineage_docs']}, "
                  f"expected {self.n_docs}", file=sys.stderr)
            failed = max(failed, abs((facts["lineage_docs"] or 0) - self.n_docs), 1)
        return failed

    def oracle_check(self, out: Path) -> list[str]:
        ids = [str(i) for i in self.sample_ids(range(self.n_docs))]
        inputs = {
            r["doc_id"]: (span_tuples(r), r["query"])
            for r in spansify_documents(self.spark, str(self.src))
            .filter(F.col("doc_id").isin(ids)).collect()
        }
        outputs = {
            r["doc_id"]: r for r in self.spark.read.parquet(str(out / "data"))
            .filter(F.col("doc_id").isin(ids)).collect()
        }
        return oracle_mismatches(inputs, outputs)


class ExtractLargeDocs(Workload):
    name = "extract_large_docs"
    n_docs = 500
    warmup_passes = 2

    def setup(self) -> None:
        table = gen.large_docs(self.seed, self.n_docs, gen.load_texts())
        self.src = self.inputs / "large"
        gen.write_parquet(table, self.src)
        self.input_location = str(self.src)
        self.doc_ids = table.column("doc_id").to_pylist()
        self._observed: dict = {}

    def inspect(self) -> None:
        self.expected_hash = id_hash(self.spark, self.doc_ids)
        self.properties = describe(self.spark.read.parquet(str(self.src)))

    def run_pass(self, out: Path) -> None:
        rec = self.rec
        df = self.spark.read.parquet(str(self.src))
        result = rec.wrap("extract_documents", "pipeline", extract)(df)
        observation = Observation("facts")
        with rec.span("action", "pipeline"):
            result.observe(observation, *fact_exprs()).write.format("noop").mode(
                "overwrite").save()
        self._observed = observation.get

    def facts(self, out: Path) -> dict:
        facts = dict(self._observed)
        # nothing is written: the output volume is the content the sink got
        facts["out_bytes"] = facts["content_bytes"]
        return facts

    def check(self, facts: dict) -> int:
        return self.id_failures(facts)

    def oracle_check(self, out: Path) -> list[str]:
        ids = self.sample_ids(self.doc_ids)
        sample = self.spark.read.parquet(str(self.src)).filter(F.col("doc_id").isin(ids))
        inputs = {r["doc_id"]: (span_tuples(r), r["query"]) for r in sample.collect()}
        outputs = {r["doc_id"]: r for r in extract(sample).collect()}
        return oracle_mismatches(inputs, outputs)


class IncrementalRefresh(Workload):
    name = "incremental_refresh"
    n_base = 2000

    def setup(self) -> None:
        texts = gen.load_texts()
        base = gen.small_docs(self.seed, self.n_base, texts)
        snap, self.delta = gen.snapshot_edit(self.seed, base, texts)
        self.snap_a, self.snap_b = self.inputs / "a", self.inputs / "b"
        gen.write_parquet(gen.text_table(base), self.snap_a)
        gen.write_parquet(gen.text_table(snap), self.snap_b)
        self.input_location = str(self.snap_b)
        self.doc_ids = list(snap)
        self.n_docs = len(snap)
        self.prev = self.work / "prev"
        docs_a = spansify_frame(self.spark.read.parquet(str(self.snap_a)))
        incremental_extract(docs_a, extract).write.parquet(str(self.prev))

    def inspect(self) -> None:
        self.expected_hash = id_hash(self.spark, self.doc_ids)
        self.properties = describe(
            spansify_frame(self.spark.read.parquet(str(self.snap_b))), len(self.delta))

    def run_pass(self, out: Path) -> None:
        rec = self.rec
        docs = rec.wrap("spansify_frame", "datagen", spansify_frame)(
            self.spark.read.parquet(str(self.snap_b)))
        prev = self.spark.read.parquet(str(self.prev))
        transform = rec.wrap("extract_documents", "pipeline", extract)
        result = rec.wrap("incremental_extract", "incremental", incremental_extract)(
            docs, transform, prev=prev)
        with rec.span("action", "pipeline"):
            result.write.parquet(str(out))

    def facts(self, out: Path) -> dict:
        data = self.spark.read.parquet(str(out))
        facts = data.agg(*fact_exprs(with_refreshed=True),
                         F.countDistinct("doc_id").alias("distinct")).first().asDict()
        facts["out_bytes"] = dir_bytes(out)
        return facts

    def check(self, facts: dict) -> int:
        failed = self.id_failures(facts, facts["distinct"])
        if facts["refreshed"] != len(self.delta):
            print(f"check failed: {facts['refreshed']} docs refreshed, "
                  f"the edit changed {len(self.delta)}", file=sys.stderr)
            failed = max(failed, abs((facts["refreshed"] or 0) - len(self.delta)), 1)
        return failed

    def oracle_check(self, out: Path) -> list[str]:
        ids = self.sample_ids(self.doc_ids)
        keys = [str(i) for i in ids]
        docs = spansify_frame(self.spark.read.parquet(str(self.snap_b)))
        inputs = {r["doc_id"]: (span_tuples(r), r["query"])
                  for r in docs.filter(F.col("doc_id").isin(keys)).collect()}
        outputs = {r["doc_id"]: r for r in self.spark.read.parquet(str(out))
                   .filter(F.col("doc_id").isin(keys)).collect()}
        refreshed = {str(i): i in self.delta for i in ids}
        return oracle_mismatches(inputs, outputs, refreshed)


WORKLOADS = {w.name: w for w in (JobSmallDocs, ExtractLargeDocs, IncrementalRefresh)}
