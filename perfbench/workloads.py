"""The benchmark's workloads: closed loops with one client.

Each workload generates its inputs from the seed (untimed), warms the
session up, runs operations back to back for the measured window, then
checks every output it produced (untimed). An operation is one analyst
session step (audience_interactive) or one pass of the curation chain
(curation_batch). Calls go through the package's public functions only.
"""

from __future__ import annotations

import csv
import io
import os
import shutil
import statistics

from pyspark.sql import Observation
from pyspark.sql import functions as F

from audience_finder_pro_spark.caching import free_checkpoint
from audience_finder_pro_spark.operators.decontaminate import ngram_contamination
from audience_finder_pro_spark.operators.dedup import corpus_dedup, ngram_jaccard_pairs
from audience_finder_pro_spark.operators.filtering import c4_filters, gopher_filters
from audience_finder_pro_spark.operators.relevance import importance_score
from audience_finder_pro_spark.operators.sampling import hash_split
from audience_finder_pro_spark.operators.validate import validate_table
from audience_finder_pro_spark.plans.audience import discover_communities, scan_signals
from audience_finder_pro_spark.session import load_table
from audience_finder_pro_spark.sources.sinks import to_csv_bytes, write_training_shards

import inputs
from oracle import Oracle, discover_sql, scan_sql


def storage_state(spark) -> tuple[int, float]:
    """(persisted RDD count, MB of RDD storage) held by the session."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return len(jsc.getPersistentRDDs()), mb


class AudienceInteractive:
    """An analyst session over a 5,000-doc corpus (the sf0.1 fixture size):
    discover communities for some terms, then scan the top communities
    found for buying signals, exporting both answers as CSV."""

    name = "audience_interactive"
    n_docs = 5000
    warmup_steps = 10  # the JVM's JIT curve is flat enough after ~10 steps
    nominal_op_s = 2.0  # one step on a 4-core host, after warm-up
    session_len = 500  # more steps than any run takes

    def __init__(self, seed: int, workdir: str):
        self.sf_dir = os.path.join(workdir, "audience")
        os.makedirs(self.sf_dir)
        inputs.write_parquet(
            inputs.documents(seed, self.n_docs), os.path.join(self.sf_dir, "documents.parquet")
        )
        self.warmup = inputs.audience_session(seed, self.warmup_steps, stream="warmup")
        self.steps = inputs.audience_session(seed, self.session_len)
        self.responses: list[tuple[dict, bytes, dict, bytes]] = []

    def run_warmup(self, spark, tracer) -> None:
        for step in self.warmup:
            self._step(spark, tracer, step, None)
        self.responses.clear()

    def op(self, spark, tracer, i: int) -> float:
        """Run step ``i``; returns its latency in seconds."""
        return self._step(spark, tracer, self.steps[i], i)

    def _step(self, spark, tracer, step: inputs.Step, req: int | None) -> float:
        with tracer.span("audience.step", req) as span:
            with tracer.span("plans.discover_communities"):
                with tracer.span("plans.discover_communities.build"):
                    df = discover_communities(spark, self.sf_dir, **step.discover)
                with tracer.span("sinks.to_csv_bytes.discover"):
                    found = to_csv_bytes(df)
            top = [r["community"] for r in csv.DictReader(io.StringIO(found.decode("utf-8")))]
            subs = top[: step.n_communities] or list(step.fallback)
            scan = dict(step.scan, subreddits=subs)
            with tracer.span("plans.scan_signals"):
                with tracer.span("plans.scan_signals.build"):
                    df = scan_signals(spark, self.sf_dir, **scan)
                with tracer.span("sinks.to_csv_bytes.scan"):
                    signals = to_csv_bytes(df)
        self.responses.append((step.discover, found, scan, signals))
        return span.seconds

    def check(self, spark) -> tuple[int, int]:
        """(attempted, failed) requests; a response differing from DuckDB's fails."""
        oracle = Oracle(os.path.join(self.sf_dir, "documents.parquet"))
        failed = 0
        try:
            for discover, found, scan, signals in self.responses:
                failed += oracle.csv(discover_sql(**discover)) != found
                failed += oracle.csv(scan_sql(**scan)) != signals
        finally:
            oracle.close()
        return 2 * len(self.responses), failed

    def counts(self) -> dict[str, float]:
        """Per-layer values counted by the workload (medians per step)."""
        sizes = [len(found) + len(signals) for _, found, _, signals in self.responses]
        return {"sinks.to_csv_bytes.bytes": statistics.median(sizes)}


VALIDATION_RULES = [
    ("id_not_null", "not_null", {"col": "doc_id"}),
    ("id_unique", "unique", {"cols": ["doc_id"]}),
    ("text_not_null", "not_null", {"col": "text"}),
]


class CurationBatch:
    """The training-data curation chain of examples/curation_pipeline.py,
    without its display actions, one pass per operation:
    validate -> C4/Gopher gates -> corpus_dedup -> 13-gram contamination
    -> DSIR importance -> hash split -> token-budgeted JSONL shards, then a
    near-duplicate pair audit (ngram_jaccard_pairs through the noop sink)
    and free_checkpoint on everything the pass materialized."""

    name = "curation_batch"
    n_docs = 1000
    nominal_op_s = 40.0  # the cold pass on a 4-core host

    def __init__(self, seed: int, workdir: str):
        self.workdir = workdir
        self.sf_dir = os.path.join(workdir, "curation")
        os.makedirs(self.sf_dir)
        inputs.write_parquet(
            inputs.documents(seed, self.n_docs), os.path.join(self.sf_dir, "documents.parquet")
        )
        self.passes: list[dict] = []

    def run_warmup(self, spark, tracer) -> None:
        """Lazy set-up only (the table's file listing and schema memo). A
        batch job runs once per process under spark-submit, so the pass
        the benchmark times is the first one in its JVM: codegen and JIT
        warm-up are part of what a user of this tier waits for."""
        load_table(spark, self.sf_dir, "documents", fan_out=True).count()

    def op(self, spark, tracer, i: int) -> float:
        """Run one pass; returns its timed seconds (the chain plus the
        final free, not the untimed counts read between them)."""
        out_dir = os.path.join(self.workdir, "shards")
        with tracer.span("curation.pass", i) as span:
            docs = load_table(spark, self.sf_dir, "documents", fan_out=True)
            with tracer.span("validate.validate_table"):
                report = validate_table(docs, VALIDATION_RULES).collect()
            with tracer.span("filtering.gates.build"):
                keep_c4 = c4_filters(
                    docs, min_words_per_line=5, require_terminal_punct=False, min_sentences=0
                ).filter("keep").select("doc_id")
                keep_q = gopher_filters(
                    docs, min_words=10, min_stop_words=0, min_alpha_frac=0.0
                ).filter("keep").select("doc_id")
                gated = docs.join(keep_c4, "doc_id").join(keep_q, "doc_id")
            with tracer.span("dedup.corpus_dedup.build"):
                deduped = corpus_dedup(gated)
            keepers = gated.join(deduped.filter("keep").select("doc_id"), "doc_id")
            with tracer.span("decontaminate.ngram_contamination.build"):
                bench = docs.filter(F.col("doc_id") % 29 == 0).select(
                    F.col("doc_id").alias("bench_id"), "text"
                )
                contam = ngram_contamination(keepers, bench, n=13)
                clean = keepers.join(contam.select("doc_id"), "doc_id", "left_anti")
            with tracer.span("relevance.importance_score.build"):
                target = clean.filter(F.col("source") == "src0")
                dsir = importance_score(clean, target).select(
                    "doc_id", F.col("dsir_logratio").alias("score"), "n_tokens"
                )
            train = hash_split(clean.join(dsir, "doc_id"), "doc_id").filter("split = 'train'")
            with tracer.span("sinks.write_training_shards"):
                manifest = write_training_shards(
                    train, out_dir, shard_tokens=2048, token_col="n_tokens", compression=None
                ).collect()
            with tracer.span("dedup.ngram_jaccard_pairs.build"):
                pairs = ngram_jaccard_pairs(gated)
            n_pairs = Observation("pairs")
            with tracer.span("dedup.ngram_jaccard_pairs.exec"):
                pairs.observe(n_pairs, F.count("*").alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
        # untimed: what the checks need, read before the checkpoints are freed
        files = [os.path.join(r, f) for r, _, fs in os.walk(out_dir) for f in fs if f.endswith(".json")]
        lines = 0
        for path in files:
            with open(path, "rb") as f:
                lines += sum(1 for _ in f)
        self.passes.append(
            {
                "rules_passed": all(r.passed for r in report),
                "manifest_docs": sum(r.n_docs for r in manifest),
                "n_pairs": n_pairs.get["n"],
                "n_train": train.count(),
                "n_kept": deduped.filter("keep").count(),
                "n_gated": gated.count(),
                "shard_lines": lines,
                "shard_files": len(files),
                "shard_bytes": sum(os.path.getsize(f) for f in files),
            }
        )
        with tracer.span("caching.free_checkpoint", i) as free:
            for df in (deduped, pairs, train):
                free_checkpoint(df)
        self.passes[-1]["storage"] = storage_state(spark)
        shutil.rmtree(out_dir, ignore_errors=True)
        return span.seconds + free.seconds

    def check(self, spark) -> tuple[int, int]:
        """(attempted, failed) passes. A pass fails when a validation rule
        fails, its manifest does not account for every train-split doc or
        for every line written, dedup keeps no doc or more than it got, or
        its kept or pair count differs from the first pass's."""
        failed = 0
        first = self.passes[0]
        for p in self.passes:
            ok = (
                p["rules_passed"]
                and p["manifest_docs"] == p["n_train"] == p["shard_lines"] > 0
                and 0 < p["n_kept"] <= p["n_gated"]
                and p["n_kept"] == first["n_kept"]
                and p["n_pairs"] == first["n_pairs"]
            )
            failed += not ok
        return len(self.passes), failed

    def counts(self) -> dict[str, float]:
        """Per-layer values counted by the workload (medians per pass)."""

        def med(f) -> float:
            return statistics.median(f(p) for p in self.passes)

        return {
            "dedup.corpus_dedup.kept_frac": med(lambda p: p["n_kept"] / p["n_gated"]),
            "dedup.ngram_jaccard_pairs.pairs": med(lambda p: p["n_pairs"]),
            "sinks.write_training_shards.bytes": med(lambda p: p["shard_bytes"]),
            "sinks.write_training_shards.files": med(lambda p: p["shard_files"]),
            "caching.persisted_rdds": med(lambda p: p["storage"][0]),
            "caching.storage_mb": med(lambda p: p["storage"][1]),
        }


WORKLOADS = {w.name: w for w in (AudienceInteractive, CurationBatch)}
