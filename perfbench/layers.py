"""In-process passes over a workload's turns, outside Spark.

- ``reference_pass``: ``core.extract.extract(text, include_html=False)``
  once per turn, single-threaded and untraced.  Its results are the
  correctness reference the Spark output is compared with; its per-turn
  times give the row-time tail and the single-thread baseline.
- ``traced_core_pass``: the mapInArrow batch function
  (``pipeline.udfs.make_arrow_extractor``) over the turns in Arrow batches,
  with the public functions of ``core.dom``, ``core.extract``,
  ``core.metadata`` and ``core.text`` wrapped.  It yields the phase split
  of ``extract`` and, as the pass time not spent inside ``extract``, the
  Arrow boundary cost of the UDF.
"""

from __future__ import annotations

import importlib
import math
import statistics
import time

import pyarrow as pa

from perfbench.trace import Tracer, patched, self_times

ERROR_STATUSES = ("error", "too_many_elements")
ARROW_BATCH_ROWS = 512  # the session's spark.sql.execution.arrow.maxRecordsPerBatch


def reference_pass(turns: list[tuple[str, int, str]]):
    """``turns`` = [(conv_id, turn_idx, html)].  Returns ({key: (text,
    spans, status)}, [per-turn ms], wall seconds)."""
    from cl_readability_spark.core.extract import extract

    ref = {}
    row_ms = []
    t_start = time.perf_counter()
    for conv_id, turn_idx, html in turns:
        t0 = time.perf_counter()
        r = extract(html, include_html=False)
        row_ms.append((time.perf_counter() - t0) * 1000.0)
        ref[(conv_id, turn_idx)] = (
            r.extracted_text, [tuple(s) for s in r.content_spans], r.status)
    return ref, row_ms, time.perf_counter() - t_start


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    if not s:
        return 0.0
    return s[max(1, math.ceil(q / 100.0 * len(s))) - 1]


def row_metrics(ref: dict, row_ms: list[float], shapes: list[str],
                wall_s: float) -> dict[str, float]:
    """Row-time tail, error rows (in total and by each input shape that
    occurs) and the single-thread throughput of a reference pass."""
    statuses = [v[2] for v in ref.values()]
    out = {
        "extract.row_ms_p50": statistics.median(row_ms) if row_ms else 0.0,
        "extract.row_ms_p99": percentile(row_ms, 99),
        "extract.row_ms_max": max(row_ms, default=0.0),
        "extract.error_rows": float(sum(s in ERROR_STATUSES for s in statuses)),
        "extract.core_turns_per_s_1t": len(row_ms) / wall_s if wall_s else 0.0,
    }
    for shape in dict.fromkeys(shapes):
        idx = [i for i, s in enumerate(shapes) if s == shape]
        out[f"shape.{shape}.rows"] = float(len(idx))
        out[f"shape.{shape}.error_rows"] = float(
            sum(statuses[i] in ERROR_STATUSES for i in idx))
        out[f"shape.{shape}.row_ms_max"] = max(
            (row_ms[i] for i in idx), default=0.0)
    return out


def _module(name: str):
    # by import path: the ``core`` package rebinds ``extract`` to the function
    return importlib.import_module(f"cl_readability_spark.{name}")


def _phase_targets():
    dom, extract, metadata = (_module(f"core.{m}")
                              for m in ("dom", "extract", "metadata"))
    return {
        "dom.parse": [(dom, "parse_html")],
        "extract.prepass": [(extract, "unwrap_noscript_images"),
                            (extract, "remove_scripts"),
                            (extract, "prepare_document")],
        "extract.metadata": [(metadata, "get_json_ld"),
                             (metadata, "get_article_metadata"),
                             (extract, "get_article_title")],
        "extract.grab_article": [(extract, "grab_article")],
        "extract.post_process": [(extract, "post_process_content")],
    }


def traced_core_pass(turns: list[tuple[str, int, str]], tracer: Tracer
                     ) -> dict[str, float]:
    dom, extract, text, udfs = (_module(m) for m in (
        "core.dom", "core.extract", "core.text", "pipeline.udfs"))

    phases = _phase_targets()
    keys = iter([(c, t) for c, t, _ in turns])
    repl = {(extract, "extract"): tracer.span("extract", extract.extract, keys)}
    phase_of = {"extract": "extract"}
    for phase, targets in phases.items():
        for owner, attr in targets:
            repl[(owner, attr)] = tracer.span(attr, getattr(owner, attr))
            phase_of[attr] = phase
    for owner, attr in ((dom, "get_elements_by_tag"),
                        (text, "get_inner_text"),
                        (extract, "_grab_article_once")):
        repl[(owner, attr)] = tracer.count(attr, getattr(owner, attr))

    batches = []
    for i in range(0, len(turns), ARROW_BATCH_ROWS):
        chunk = turns[i:i + ARROW_BATCH_ROWS]
        batches.append(pa.RecordBatch.from_pydict({
            "conv_id": pa.array([c for c, _, _ in chunk], pa.string()),
            "turn_idx": pa.array([t for _, t, _ in chunk], pa.int32()),
            "text": pa.array([h for _, _, h in chunk], pa.string()),
        }))
    first = len(tracer.spans)
    with patched(repl):
        mapper = udfs.make_arrow_extractor()
        t0 = time.perf_counter()
        for _ in mapper(iter(batches)):
            pass
        wall = time.perf_counter() - t0

    spans = tracer.spans[first:]
    selfs = self_times(tracer.spans)[first:]
    n = max(len(turns), 1)
    phase_s = dict.fromkeys([*phases, "extract"], 0.0)
    for s, own in zip(spans, selfs):
        phase_s[phase_of[s.name]] += own
    extract_total = sum(s.end - s.start for s in spans if s.name == "extract")
    attempts = [c for (name, _key), c in tracer.key_counts.items()
                if name == "_grab_article_once"]
    return {
        "dom.parse_s": phase_s["dom.parse"],
        "dom.parse_calls_per_turn": sum(s.name == "parse_html" for s in spans) / n,
        "dom.gebt_calls_per_turn": tracer.counts["get_elements_by_tag"] / n,
        "extract.prepass_s": phase_s["extract.prepass"],
        "extract.metadata_s": phase_s["extract.metadata"],
        "extract.grab_article_s": phase_s["extract.grab_article"],
        "extract.post_process_s": phase_s["extract.post_process"],
        "extract.self_s": phase_s["extract"],
        "extract.traced_total_s": extract_total,
        "extract.attempts_per_turn": sum(attempts) / n,
        "extract.first_try_share": (sum(c == 1 for c in attempts) / len(attempts)
                                    if attempts else 0.0),
        "text.inner_text_calls_per_turn": tracer.counts["get_inner_text"] / n,
        "udf.arrow_codec_s": max(wall - extract_total, 0.0),
    }
