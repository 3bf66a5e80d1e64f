"""The benchmark's four workloads.

Each workload makes its inputs from a seed, builds the program's input in a
session (``build_input``, timed as part of set-up, as is ``warm_up``), runs
one timed job per ``run`` call and checks that job's output (``check``).
``restore`` undoes what a run left behind, outside the timed region.

- ``corpus``: the seeded ``pipeline.corpus`` transcript mix through
  ``extract_transcripts``; the Python extraction core does the work.
- ``adversarial``: the same mix with a seeded set of turns replaced by the
  pathological shapes of ``perfbench.adversarial``.
- ``resume_write``: ``CheckpointedSink.run`` over an input parquet whose
  seeded half is already committed: anti-join, extract, append a batch,
  write the metrics sidecar and the manifest.
- ``curate``: documents wrapped as transcripts, extracted, curated and
  reported; JVM jobs, shuffles and eager pins do the work.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import adversarial
from perfbench.eventlog import MB
from perfbench.layers import ERROR_STATUSES


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / MB


class CheckResult:
    def __init__(self, rows: int, error_rows: int = 0, problems=()):
        self.rows = rows
        self.error_rows = error_rows
        self.problems = list(problems)

    @property
    def ok(self) -> bool:
        return not self.problems


def corpus_rows(seed: int, n_turns: int) -> list[tuple]:
    """The first ``n_turns`` turns of ``pipeline.corpus``'s seeded mix, so
    every seed yields the same number of turns."""
    from cl_readability_spark.pipeline.corpus import build_transcript_rows

    n_conv = n_turns // 20 + 8
    while True:
        rows = build_transcript_rows(n_conv, seed)
        if len(rows) >= n_turns:
            return rows[:n_turns]
        n_conv *= 2


def _prefix_filter(rows: list[tuple]):
    """Column predicate keeping exactly the keys of ``rows``, a prefix of
    the corpus in (conv_id, turn_idx) order."""
    from pyspark.sql import functions as F

    last_conv, last_turn = rows[-1][0], rows[-1][1]
    return (F.col("conv_id") < last_conv) | (
        (F.col("conv_id") == last_conv) & (F.col("turn_idx") <= last_turn))


def _n_conversations(rows: list[tuple]) -> int:
    return int(rows[-1][0].split("-")[1]) + 1


def frame_from_rows(spark, rows: list[tuple]):
    """Transcripts DataFrame of ``rows`` in the input schema."""
    from cl_readability_spark.pipeline.transcripts import TRANSCRIPTS_SCHEMA

    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def compare_rows(table: pa.Table, ref: dict) -> CheckResult:
    """Spark output (conv_id, turn_idx, extracted_text, content_spans,
    status) against the reference, turn by turn in key order."""
    d = table.to_pydict()
    order = sorted(range(table.num_rows),
                   key=lambda i: (d["conv_id"][i], d["turn_idx"][i]))
    problems = []
    got_keys = [(d["conv_id"][i], d["turn_idx"][i]) for i in order]
    if got_keys != sorted(ref):
        problems.append(f"key set differs: {len(got_keys)} rows vs "
                        f"{len(ref)} reference turns")
    errors = 0
    for i in order:
        key = (d["conv_id"][i], d["turn_idx"][i])
        spans = [(s["start"], s["end"]) for s in d["content_spans"][i] or []]
        got = (d["extracted_text"][i], spans, d["status"][i])
        errors += got[2] in ERROR_STATUSES
        if key in ref and got != ref[key] and len(problems) < 5:
            problems.append(f"{key}: status {got[2]!r} vs {ref[key][2]!r}, "
                            f"text/spans differ")
    return CheckResult(table.num_rows, errors, problems)


def extraction_output(df):
    """The columns the correctness gate compares, collected as Arrow."""
    from cl_readability_spark.pipeline.job import extract_transcripts

    return extract_transcripts(df).select(
        "conv_id", "turn_idx", "extracted_text", "content_spans", "status"
    ).toArrow()


class Workload:
    name = ""
    WARM_RUNS = 2

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rows: list[tuple] = []       # input turns, transcripts schema
        self.row_shapes: list[str] = []
        self.parts: dict[str, float] = {}  # layer timings of the last run

    # --- inputs made by the benchmark ---
    def generate(self) -> None:
        raise NotImplementedError

    def checked_turns(self) -> list[tuple[str, int, str]]:
        """Turns whose extraction the correctness gate compares."""
        return [(r[0], r[1], r[3]) for r in self.rows]

    @property
    def n_turns(self) -> int:
        """Turns one run extracts."""
        return len(self.checked_turns())

    # --- program-side set-up, run and check ---
    def build_input(self, spark) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        """Full runs, unchecked, until the JVM and the Python workers have
        compiled and loaded what the timed runs use."""
        for _ in range(self.WARM_RUNS):
            self.restore(spark, self.run(spark))

    def run(self, spark):
        raise NotImplementedError

    def check(self, spark, out, ref: dict) -> CheckResult:
        raise NotImplementedError

    def restore(self, spark, out) -> None:
        pass

    def reset(self) -> None:
        """Remove what ``build_input``/``warm_up`` wrote (between set-ups)."""

    def trace_turns(self, spark) -> list[tuple[str, int, str]]:
        return self.checked_turns()


class CorpusWorkload(Workload):
    name = "corpus"
    TURNS = 1500

    def generate(self):
        self.rows = corpus_rows(self.seed, self.TURNS)
        self.row_shapes = ["base"] * len(self.rows)

    def build_input(self, spark):
        from cl_readability_spark.pipeline.transcripts import synthetic_transcripts

        self.df = synthetic_transcripts(
            spark, _n_conversations(self.rows), seed=self.seed
        ).filter(_prefix_filter(self.rows))

    def run(self, spark):
        return extraction_output(self.df)

    def check(self, spark, out, ref):
        return compare_rows(out, ref)


class AdversarialWorkload(CorpusWorkload):
    name = "adversarial"
    TURNS = 1200

    def generate(self):
        self.rows, self.row_shapes = adversarial.inject(
            corpus_rows(self.seed, self.TURNS), self.seed)

    def build_input(self, spark):
        rows, _ = adversarial.inject(
            corpus_rows(self.seed, self.TURNS), self.seed)
        self.df = frame_from_rows(spark, rows)


class ResumeWriteWorkload(Workload):
    name = "resume_write"
    TURNS = 1000

    def generate(self):
        self.rows = corpus_rows(self.seed, self.TURNS)
        rng = random.Random(f"resume-{self.seed}")
        self.committed = set(
            rng.sample([(r[0], r[1]) for r in self.rows], len(self.rows) // 2))
        self.row_shapes = ["base"] * len(self.checked_turns())
        self.input_path = os.path.join(self.work, "resume_input")
        self.sink_root = os.path.join(self.work, "resume_sink")
        self.metrics_root = os.path.join(self.work, "resume_metrics")

    def checked_turns(self):
        return [(r[0], r[1], r[3]) for r in self.rows
                if (r[0], r[1]) not in self.committed]

    def build_input(self, spark):
        from cl_readability_spark.pipeline.transcripts import synthetic_transcripts

        synthetic_transcripts(
            spark, _n_conversations(self.rows), seed=self.seed
        ).filter(_prefix_filter(self.rows)).write.parquet(self.input_path)

    def warm_up(self, spark):
        # seeding the sink with the committed half is itself a run of the
        # production path (without the anti-join); full runs follow
        from cl_readability_spark.pipeline.resume import CheckpointedSink
        from pyspark.sql.types import (IntegerType, StringType, StructField,
                                       StructType)

        keys = spark.createDataFrame(
            sorted(self.committed),
            StructType([StructField("conv_id", StringType(), False),
                        StructField("turn_idx", IntegerType(), False)]))
        src = spark.read.parquet(self.input_path).join(
            keys, ["conv_id", "turn_idx"], "left_semi")
        CheckpointedSink(self.sink_root).run(src)
        super().warm_up(spark)

    def run(self, spark):
        from cl_readability_spark.pipeline.resume import CheckpointedSink

        self.parts = {}
        sink = CheckpointedSink(self.sink_root)
        return sink.run(spark.read.parquet(self.input_path),
                        metrics_root=self.metrics_root)

    def _new_batches(self) -> list[str]:
        return sorted(
            (n for n in os.listdir(self.sink_root)
             if n.startswith("batch=") and n != "batch=0"),
            key=lambda n: int(n.split("=")[1]))

    def check(self, spark, written, ref):
        new = self._new_batches()
        if len(new) != 1:
            return CheckResult(len(ref), problems=[f"new batches: {new}"])
        batch = os.path.join(self.sink_root, new[0])
        table = pq.read_table(batch, columns=[
            "conv_id", "turn_idx", "extracted_text", "content_spans", "status"])
        res = compare_rows(table, ref)
        if written != len(ref):
            res.problems.append(f"run wrote {written}, expected {len(ref)}")
        old = pq.read_table(os.path.join(self.sink_root, "batch=0"),
                            columns=["conv_id", "turn_idx"]).to_pydict()
        keys = Counter(zip(old["conv_id"], old["turn_idx"]))
        keys.update(zip(table.column("conv_id").to_pylist(),
                        table.column("turn_idx").to_pylist()))
        if set(keys) != {(r[0], r[1]) for r in self.rows} or max(keys.values()) != 1:
            res.problems.append("committed + new batches do not hold every "
                                "input key exactly once")
        with open(os.path.join(batch, "_MANIFEST.json")) as f:
            manifest = json.load(f)["by_status"]
        if {k: v["rows"] for k, v in manifest.items()} != dict(
                Counter(table.column("status").to_pylist())):
            res.problems.append("manifest row counts by status differ from "
                                "the batch's")
        if pq.read_table(self.metrics_root).num_rows != len(ref):
            res.problems.append("metrics sidecar row count differs")
        self.parts["sink.written_mb"] = dir_mb(batch)
        return res

    def restore(self, spark, out):
        for name in self._new_batches():
            shutil.rmtree(os.path.join(self.sink_root, name))
        shutil.rmtree(self.metrics_root, ignore_errors=True)

    def reset(self):
        for path in (self.input_path, self.sink_root, self.metrics_root):
            shutil.rmtree(path, ignore_errors=True)


# the marginals of the generated testdata documents table
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window").split()
DOC_LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """``documents.parquet`` (doc_id, text, lang, source, n_chars): 10-100
    uniform words, the testdata language mix, 20 round-robin sources, and
    a seeded ~1% of exact duplicate texts for the dedup gates."""
    rng = random.Random(f"documents-{seed}")
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < 0.01:
            texts.append(rng.choice(texts))
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    langs = rng.choices([lang for lang, _ in DOC_LANGS],
                        weights=[w for _, w in DOC_LANGS], k=n_docs)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))


class CurateWorkload(Workload):
    name = "curate"
    DOCS = 500
    DOCS_PER_CONV = 25  # pipeline.transcripts.documents_as_transcripts

    def generate(self):
        self.n_docs = self.DOCS
        self.docs_dir = os.path.join(self.work, "docs")
        write_documents(self.docs_dir, self.n_docs, self.seed)
        self.first_report = None

    @property
    def n_turns(self):
        return self.n_docs + -(-self.n_docs // self.DOCS_PER_CONV)

    def checked_turns(self):
        return []

    def build_input(self, spark):
        from cl_readability_spark.pipeline.transcripts import documents_as_transcripts

        self.df = documents_as_transcripts(spark, self.docs_dir)

    def _curate(self, transcripts):
        from cl_readability_spark.functions.curation import curate, curation_report
        from cl_readability_spark.pipeline.job import extract_transcripts

        t0 = time.perf_counter()
        curated = curate(extract_transcripts(transcripts, salt_buckets=8),
                         min_stopword_bp=0)
        t1 = time.perf_counter()
        report = curation_report(curated).collect()[0].asDict()
        self.parts = {"curate.call_s": t1 - t0,
                      "curate.report_s": time.perf_counter() - t1}
        return report, curated

    def run(self, spark):
        return self._curate(self.df)

    def check(self, spark, out, ref):
        report, curated = out
        by_status = dict(curated.groupBy("status").count().collect())
        rows = sum(by_status.values())
        problems = []
        if self.first_report is None:
            self.first_report = report
        if report != self.first_report:
            problems.append(f"report differs from the first run's: {report}")
        drops = sum(v for k, v in report.items() if k.startswith("dropped_"))
        if report["rows_in"] != self.n_turns or rows != self.n_turns:
            problems.append(f"rows_in {report['rows_in']}, {rows} extracted, "
                            f"expected {self.n_turns}")
        if drops + report["rows_kept"] != report["rows_in"]:
            problems.append("drop columns do not partition rows_in")
        errors = sum(v for k, v in by_status.items() if k in ERROR_STATUSES)
        return CheckResult(rows, errors, problems)

    def restore(self, spark, out):
        from cl_readability_spark.functions.curation import release_curated

        release_curated(out[1])

    def trace_turns(self, spark):
        d = self.df.select("conv_id", "turn_idx", "text").toArrow().to_pydict()
        return sorted(zip(d["conv_id"], d["turn_idx"], d["text"]))

WORKLOADS = {w.name: w for w in (
    CorpusWorkload, AdversarialWorkload, ResumeWriteWorkload, CurateWorkload)}
