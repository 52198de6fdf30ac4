"""The three workloads: the untraced timed call, the traced run that spans
each layer's public calls, and the correctness check of every run's output.

Extract workloads (crawl_fresh, recrawl_resume) time ``plans.extract.
run_extract(resume=True, sink="merge")`` from its call to its return, which
is after the output snapshot has committed.  Their traced twin makes the
same calls layer by layer -- read_pages, _read_done + anti-join,
dedup_latest_by_url, partition_for_cascade, make_cascade_fn's mapInArrow,
merge_parquet -- and materializes each layer's result so its span holds
that layer's work.  corpus_dedup times make_cascade_fn, minhash_lsh_pairs,
ngram_jaccard_pairs and quality_signals until their results are collected.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from typing import NamedTuple

from pyspark.sql import functions as F

from htmlcleanup_spark.engine import DEFAULT_RULES
from htmlcleanup_spark.functions.text import quality_signals
from htmlcleanup_spark.functions.udf import RESULT_DDL, make_cascade_fn
from htmlcleanup_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from htmlcleanup_spark.plans.extract import (
    _read_done,
    dedup_latest_by_url,
    merge_parquet,
    partition_for_cascade,
    read_extracted,
    run_extract,
)
from htmlcleanup_spark.sources.pages import read_pages

import harness
import inputs

LSH_RECALL_FLOOR = 0.9
JACCARD_THRESHOLD = 0.5


def _identity_fn():
    # built in a closure so cloudpickle ships it by value: the workers
    # cannot import this benchmark's modules
    def identity(batches):
        yield from batches

    return identity


def _checkpoint(df):
    return df.localCheckpoint(eager=True)


def _result_rows(df):
    return df.select(
        "url", F.sha2("text", 256).alias("sha"), "error", "bytes_in", "bytes_out"
    ).collect()


def _digest(rows) -> str:
    return inputs.digest(
        (r.url, r.sha or "", r.error, r.bytes_in, r.bytes_out) for r in rows
    )


def _udf_metrics(tracer_times, cascade_df, identity_s) -> dict:
    nodes = harness.plan_nodes(cascade_df)
    cascade_s = tracer_times.get("udf.cascade", 0.0)
    return {
        "udf.cascade_s": cascade_s,
        "udf.identity_s": identity_s,
        "udf.shell_share": identity_s / cascade_s if cascade_s else 0.0,
        "udf.py_bytes_sent": harness.metric_sum(nodes, "MapInArrow", "pythonDataSent"),
        "udf.py_bytes_returned": harness.metric_sum(
            nodes, "MapInArrow", "pythonDataReceived"),
        "udf.py_worker_boot_s": harness.metric_sum(
            nodes, "MapInArrow", "pythonBootTime") / 1000.0,
    }


def _timed_identity(df) -> float:
    t0 = time.perf_counter()
    _checkpoint(df.mapInArrow(_identity_fn(), df.schema))
    return time.perf_counter() - t0


class CheckResult(NamedTuple):
    ok: bool
    error_rows: int
    note: str = ""


class _Workload:
    def __init__(self, meta: dict, work_dir: str):
        self.meta = meta
        self.work_dir = work_dir
        self.pages = meta["input_rows"]
        self.html_bytes = meta["input_bytes"]

    def prepare_session(self, spark) -> None:
        """Per-seed state the runs need, built once in the first session."""


class _Extract(_Workload):
    """Shared by crawl_fresh and recrawl_resume."""

    layers = ("sources.scan", "extract.resume", "extract.dedup",
              "extract.partition", "udf.cascade", "sink.write")
    # pages per size class for the engine phase probe
    engine_sample = {"small": 40, "medium": 6, "giant": 1}

    def fresh_out(self, tag: str) -> str:
        out = os.path.join(self.work_dir, "out", tag)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        return out

    def run(self, spark, out: str):
        run_extract(spark, self.meta["pages"], output_path=out,
                    resume=True, sink="merge")

    def traced(self, spark, out: str, tracer, run_id: str):
        """The run_extract pipeline layer by layer, each layer materialized
        inside its span.  Returns (layer metrics read afterwards, None)."""
        with tracer.span("run", run_id):
            with tracer.span("sources.scan", run_id):
                scan_plan = read_pages(spark, self.meta["pages"]).select(
                    "url", "warc_ts", "html", "lang")
                scan = _checkpoint(scan_plan)
            with tracer.span("extract.resume", run_id):
                done = _read_done(spark, out)
                resumed = scan
                if done is not None:
                    resumed = _checkpoint(scan.join(done, "url", "left_anti"))
            with tracer.span("extract.dedup", run_id):
                deduped = _checkpoint(dedup_latest_by_url(resumed))
            with tracer.span("extract.partition", run_id):
                n = spark.sparkContext.defaultParallelism * 4
                part_plan = partition_for_cascade(deduped, n)
                parted = _checkpoint(part_plan)
            with tracer.span("udf.cascade", run_id):
                spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
                rules_bc = spark.sparkContext.broadcast(DEFAULT_RULES)
                cascade_plan = parted.mapInArrow(make_cascade_fn(rules_bc), RESULT_DDL)
                result = _checkpoint(cascade_plan)
            with tracer.span("sink.write", run_id):
                merge_parquet(spark, result, out)
        return self._layer_counters(spark, out, tracer, run_id, scan_plan, scan,
                                    resumed, deduped, parted, part_plan,
                                    cascade_plan, result), None

    def _layer_counters(self, spark, out, tracer, run_id, scan_plan, scan,
                        resumed, deduped, parted, part_plan, cascade_plan,
                        result):
        times = tracer.self_times(run_id)
        n_scan, n_resumed, n_dedup = scan.count(), resumed.count(), deduped.count()
        part_bytes = sorted(
            r[1] for r in parted.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum(F.octet_length("html"))).collect()
        )
        med = harness.median(part_bytes)
        scan_nodes = harness.plan_nodes(scan_plan)
        part_nodes = harness.plan_nodes(part_plan)
        new_bytes_out = result.agg(F.sum("bytes_out")).collect()[0][0] or 0
        snap = _newest_snapshot(out)
        table_bytes_out = spark.read.parquet(snap).agg(
            F.sum("bytes_out")).collect()[0][0] or 0
        files = [os.path.join(snap, f) for f in os.listdir(snap)
                 if f.endswith(".parquet")]
        m = {
            "sources.scan_s": times.get("sources.scan", 0.0),
            "sources.scan_bytes": harness.metric_sum(scan_nodes, "Scan", "filesSize"),
            "extract.resume_s": times.get("extract.resume", 0.0),
            "extract.resume_skipped": n_scan - n_resumed,
            "extract.dedup_s": times.get("extract.dedup", 0.0),
            "extract.dedup_dropped": n_resumed - n_dedup,
            "extract.partition_s": times.get("extract.partition", 0.0),
            "extract.shuffle_bytes": harness.metric_sum(
                part_nodes, "Exchange", "shuffleBytesWritten"),
            "extract.part_bytes_max_over_median": (
                part_bytes[-1] / med if med else 0.0),
            "sink.write_s": times.get("sink.write", 0.0),
            "sink.bytes_written": sum(os.path.getsize(f) for f in files),
            "sink.write_amp": table_bytes_out / new_bytes_out if new_bytes_out else 0.0,
            "sink.files": len(files),
        }
        m.update(_udf_metrics(times, cascade_plan, _timed_identity(parted)))
        return m


def _newest_snapshot(out: str) -> str:
    snaps = sorted(n for n in os.listdir(out) if n.startswith("snap-"))
    return os.path.join(out, snaps[-1])


class CrawlFresh(_Extract):
    name = "crawl_fresh"

    def check(self, spark, out: str, _result) -> CheckResult:
        rows = _result_rows(read_extracted(spark, out))
        errors = sum(1 for r in rows if r.error is not None)
        if _digest(rows) != self.meta["expected_digest"]:
            return CheckResult(False, errors, "output digest != pure-engine digest")
        return CheckResult(True, errors)


class RecrawlResume(_Extract):
    """Every run starts from the same committed snapshot, built once per
    seed by run_extract over the older crawl and copied into each run's
    output directory outside the timed region."""

    name = "recrawl_resume"

    def _committed_dir(self) -> str:
        return os.path.join(self.meta["dir"], "committed")

    def prepare_session(self, spark) -> None:
        committed = self._committed_dir()
        marker = os.path.join(self.meta["dir"], "committed.digest")
        if os.path.exists(marker):
            with open(marker) as f:
                self.committed_digest = f.read().strip()
            return
        tmp = committed + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        run_extract(spark, self.meta["base_pages"], output_path=tmp,
                    resume=False, sink="merge")
        self.committed_digest = _digest(_result_rows(read_extracted(spark, tmp)))
        shutil.rmtree(committed, ignore_errors=True)
        os.rename(tmp, committed)
        with open(marker, "w") as f:
            f.write(self.committed_digest)

    def fresh_out(self, tag: str) -> str:
        out = super().fresh_out(tag)
        shutil.copytree(self._committed_dir(), out)
        return out

    def check(self, spark, out: str, _result) -> CheckResult:
        rows = _result_rows(read_extracted(spark, out))
        errors = sum(1 for r in rows if r.error is not None)
        urls = [r.url for r in rows]
        committed = set(self.meta["committed_urls"])
        new = set(self.meta["new_urls"])
        if len(urls) != len(set(urls)):
            return CheckResult(False, errors, "duplicate urls in output")
        if set(urls) != committed | new:
            return CheckResult(False, errors, "output urls != committed + new")
        if _digest(r for r in rows if r.url in committed) != self.committed_digest:
            return CheckResult(False, errors, "skipped urls changed")
        if _digest(r for r in rows if r.url in new) != self.meta["expected_new_digest"]:
            return CheckResult(False, errors, "new urls != pure-engine digest")
        return CheckResult(True, errors)


class CorpusDedup(_Workload):
    name = "corpus_dedup"
    layers = ("sources.scan", "udf.cascade", "operators.minhash_lsh",
              "operators.ngram_jaccard", "operators.quality_signals")
    engine_sample = {"small": 150}

    def fresh_out(self, tag: str) -> str:
        return tag

    @staticmethod
    def _docs(pages):
        return pages.mapInArrow(make_cascade_fn(), RESULT_DDL).select(
            F.col("url").cast("bigint").alias("doc_id"), "url", "text", "error",
            "bytes_in", "bytes_out")

    @staticmethod
    def _operators(docs, span):
        """The three operators over the cleaned docs, each inside
        ``span(name)``; returns the collected results and the plans."""
        with span("operators.minhash_lsh"):
            pairs_plan = minhash_lsh_pairs(docs, text_col="text", id_col="doc_id")
            pairs = _checkpoint(pairs_plan)
            lsh = pairs.collect()
        with span("operators.ngram_jaccard"):
            jac_plan = ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id",
                                           threshold=JACCARD_THRESHOLD,
                                           candidates=pairs)
            jac = jac_plan.collect()
        with span("operators.quality_signals"):
            qs_plan = quality_signals(docs, text_col="text", id_col="doc_id")
            qs = qs_plan.collect()
        return {"docs": docs, "lsh": lsh, "jac": jac, "qs": qs,
                "plans": (pairs_plan, jac_plan, qs_plan)}

    def run(self, spark, _out):
        docs = _checkpoint(self._docs(read_pages(
            spark, self.meta["pages"]).select(
                "url", "warc_ts", "html", "lang")))
        return self._operators(docs, lambda _name: contextlib.nullcontext())

    def traced(self, spark, _out, tracer, run_id: str):
        with tracer.span("run", run_id):
            with tracer.span("sources.scan", run_id):
                scan_plan = read_pages(spark, self.meta["pages"]).select(
                    "url", "warc_ts", "html", "lang")
                scan = _checkpoint(scan_plan)
            with tracer.span("udf.cascade", run_id):
                docs_plan = self._docs(scan)
                docs = _checkpoint(docs_plan)
            result = self._operators(docs, lambda name: tracer.span(name, run_id))
        times = tracer.self_times(run_id)
        shuffle = 0
        for df in result["plans"]:
            shuffle += harness.metric_sum(
                harness.plan_nodes(df), "Exchange", "shuffleBytesWritten")
        m = {
            "sources.scan_s": times.get("sources.scan", 0.0),
            "sources.scan_bytes": harness.metric_sum(
                harness.plan_nodes(scan_plan), "Scan", "filesSize"),
            "operators.minhash_lsh_s": times.get("operators.minhash_lsh", 0.0),
            "operators.lsh_candidates": len(result["lsh"]),
            "operators.lsh_recall": len(self._planted_found(result)) / len(
                self.meta["planted"]),
            "operators.ngram_jaccard_s": times.get("operators.ngram_jaccard", 0.0),
            "operators.jaccard_pairs": len(result["jac"]),
            "operators.quality_signals_s": times.get("operators.quality_signals", 0.0),
            "operators.shuffle_bytes": shuffle,
        }
        m.update(_udf_metrics(times, docs_plan, _timed_identity(scan)))
        return m, result

    def _planted_found(self, result) -> set:
        """Planted near-duplicate pairs among the LSH candidates."""
        planted = {tuple(p) for p in self.meta["planted"]}
        return planted & {(r.id_a, r.id_b) for r in result["lsh"]}

    def check(self, spark, _out, result) -> CheckResult:
        rows = _result_rows(result["docs"])
        errors = sum(1 for r in rows if r.error is not None)
        if _digest(rows) != self.meta["expected_digest"]:
            return CheckResult(False, errors, "cleaned docs != pure-engine digest")
        if len(result["qs"]) != self.pages or len(
                {r.doc_id for r in result["qs"]}) != self.pages:
            return CheckResult(False, errors, "quality_signals != one row per doc")
        found = self._planted_found(result)
        planted = len(self.meta["planted"])
        if len(found) < LSH_RECALL_FLOOR * planted:
            return CheckResult(False, errors, "lsh recall %d/%d below floor"
                               % (len(found), planted))
        candidates = {(r.id_a, r.id_b) for r in result["lsh"]}
        if any((r.id_a, r.id_b) not in candidates
               or not JACCARD_THRESHOLD <= r.jaccard <= 1.0 for r in result["jac"]):
            return CheckResult(False, errors,
                               "a jaccard pair is not an LSH candidate above threshold")
        return CheckResult(True, errors)


WORKLOADS = {w.name: w for w in (CrawlFresh, RecrawlResume, CorpusDedup)}
