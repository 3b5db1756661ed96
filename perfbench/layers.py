"""Metric tables of a run: the workload's own metrics, and the
per-layer metrics of a traced run.

Every traced run reports every per-layer metric that ``BENCHMARK.json``
lists, with the unit listed there, in its order (0 where the workload
never reaches that layer). Per-operation figures are means over the
operations of the timed phase, or of the registry pass; counts of the
collection's version are taken at the end.
"""

from __future__ import annotations

import json
import os
import re
import statistics

from perfbench.pipeline import KEYS
from perfbench.tracing import CATALYST_PHASES, SPARK_COUNTS
from perfbench.workloads import TOP_K, median

#: operation families that get Spark engine counts / Catalyst times
SPARK_FAMILIES = ("search", "search_batch", "upsert_df", "flush", "registry")
CATALYST_FAMILIES = ("search", "search_batch", "registry")
BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")

#: units of the metrics a workload reports beside the end-to-end ones
WORKLOAD_UNITS = {
    "search_p50_ms": "ms",
    "search_p90_ms": "ms",
    "filtered_search_p50_ms": "ms",
    "ann_search_p50_ms": "ms",
    "ann_recall_at_10": "ratio",
    "batch_search_ms_per_query": "ms",
    "write_p50_ms": "ms",
    "ingest_rows_per_s": "1/s",
    "read_after_write_p50_ms": "ms",
    "bytes_per_user_byte": "ratio",
}


def workload_metrics(res) -> dict[str, dict]:
    out = {k: {"value": v, "unit": WORKLOAD_UNITS[k]} for k, v in res.values.items()}
    out["error_rate"] = {"value": res.failed / max(res.attempted, 1), "unit": "ratio"}
    return out


def layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, from ``BENCHMARK.json``."""
    with open(BENCHMARK_JSON) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _family(kind: str) -> str:
    """``search.eq`` -> ``search``, ``registry.token_vocab`` -> ``registry``."""
    return kind.split(".")[0]


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def per_layer(tracer, res, stats: dict, spool_bytes: int, e2e: dict) -> dict[str, dict]:
    """Per-layer metrics of a traced run (after the session stopped,
    so the event log is complete)."""
    selfs = tracer.self_times()
    timed = {i: op for i, op in tracer.ops.items() if op["phase"] == "timed"}
    registry = {op["kind"].split(".", 1)[1]: i for i, op in tracer.ops.items()
                if op["phase"] == "registry"}
    measured = timed | {i: tracer.ops[i] for i in registry.values()}
    by_kind: dict[str, list[int]] = {}
    for i, op in timed.items():
        by_kind.setdefault(op["kind"], []).append(i)
    spans_of: dict[int, list[int]] = {}
    for j, sp in enumerate(tracer.spans):
        if sp["op"] in measured:
            spans_of.setdefault(sp["op"], []).append(j)

    def span_ms(op_ids, name: str, *, self_time: bool = False) -> float:
        """Mean per operation of the named spans' total duration."""
        if not op_ids:
            return 0.0
        total = 0.0
        for i in op_ids:
            for j in spans_of.get(i, ()):
                sp = tracer.spans[j]
                if sp["name"] == name:
                    total += selfs[j] if self_time else sp["end"] - sp["start"]
        return total * 1e3 / len(op_ids)

    def scans(op_ids) -> list[dict]:
        return [
            tracer.spans[j]
            for i in op_ids
            for j in spans_of.get(i, ())
            if tracer.spans[j]["name"] == "blocks.block_index_scan"
        ]

    searches = [i for i, op in timed.items() if op["kind"].startswith("search.")]
    exact_searches = [i for i in searches if timed[i]["kind"] != "search.ann"]
    ann_searches = by_kind.get("search.ann", [])
    filtered = by_kind.get("search.eq", []) + by_kind.get("search.range", [])
    batches = by_kind.get("search_batch", [])
    flushes = by_kind.get("flush", [])
    task_metrics = tracer.spark_task_metrics()

    def rows_per_result(op_ids) -> float:
        sc = scans(op_ids)
        return _mean(sum(n for _f, n in sp.get("files", ())) / TOP_K for sp in sc)

    m = {
        "catalog.search.construct_ms": span_ms(searches, "catalog.search", self_time=True),
        "catalog.search.collect_ms": span_ms(searches, "catalog.search.collect"),
        "catalog.search.py4j_calls": _mean(
            sum(
                tracer.spans[j]["py4j"]
                for j in spans_of.get(i, ())
                if tracer.spans[j]["name"] in ("catalog.search", "catalog.search.collect")
            )
            for i in searches
        ),
        "catalog.search_batch.construct_ms": span_ms(
            batches, "catalog.search_batch", self_time=True
        ),
        "catalog.upsert_df.ms": span_ms(by_kind.get("upsert_df", []), "catalog.upsert_df"),
        "catalog.flush.ms": span_ms(flushes, "catalog.flush"),
        "catalog.flush.jobs": _mean(timed[i]["jobs"] for i in flushes),
        "catalog.flush.stages": _mean(timed[i]["stages"] for i in flushes),
        "catalog.flush.tasks": _mean(timed[i]["tasks"] for i in flushes),
        "catalog.flush.bytes_written": _mean(
            task_metrics.get(timed[i]["group"], {}).get("bytes_written", 0.0) for i in flushes
        ),
        "catalog.version.files": float(stats.get("files", 0)),
        "catalog.version.tombstones": float(stats.get("tombstones", 0)),
        "catalog.version.bytes_per_user_byte": res.values.get("bytes_per_user_byte", 0.0),
        "filters.compile_filter_mask.ms": span_ms(filtered, "filters.compile_filter_mask"),
        "blocks.block_index_scan.ms": span_ms(exact_searches, "blocks.block_index_scan"),
        "blocks.files_per_search": _mean(len(sp.get("files", ())) for sp in scans(exact_searches)),
        "blocks.rows_scanned_per_result": rows_per_result(exact_searches),
        "blocks.spool_misses": _mean(timed[i]["spool_misses"] for i in searches + batches),
        "blocks.spool_bytes": float(spool_bytes),
        "ann.lists_probed": _mean(
            len({hit.group(1) for f, _n in sp.get("files", ())
                 for hit in [re.search(r"centroid=(\d+)", f)] if hit})
            for sp in scans(ann_searches)
        ),
        "ann.rows_scanned_per_result": rows_per_result(ann_searches),
        "ann.tasks_per_search": _mean(timed[i]["tasks"] for i in ann_searches),
        "ann.recall_at_10": res.values.get("ann_recall_at_10", 0.0),
    }
    for fam in SPARK_FAMILIES:
        ids = [i for i in measured if _family(measured[i]["kind"]) == fam]
        for c in SPARK_COUNTS:
            if c in ("jobs", "stages", "tasks"):
                vals = (measured[i][c] for i in ids)
            else:
                vals = (task_metrics.get(measured[i]["group"], {}).get(c, 0.0) for i in ids)
            m[f"spark.{fam}.{c}"] = _mean(vals)
    for fam in CATALYST_FAMILIES:
        ids = [i for i in measured if _family(measured[i]["kind"]) == fam]
        for ph in CATALYST_PHASES:
            m[f"catalyst.{fam}.{ph}_ms"] = _mean(
                measured[i]["catalyst"].get(ph, 0.0) for i in ids
            )
    # one op per key, whose root span is named after its kind
    for key in KEYS:
        i = registry.get(key)
        group = task_metrics.get(tracer.ops[i]["group"], {}) if i is not None else {}
        m[f"registry.{key}.ms"] = median(res.samples.get(f"registry.{key}"))
        m[f"registry.{key}.py4j_calls"] = float(sum(
            tracer.spans[j]["py4j"] for j in spans_of.get(i, ())
            if tracer.spans[j]["parent"] is None
        ))
        m[f"registry.{key}.shuffle_bytes"] = group.get("shuffle_write_bytes", 0.0)
    m.update({
        "trace.setup_s": e2e["setup_s"]["value"],
        "trace.op_p50_ms": e2e["op_p50_ms"]["value"],
        "trace.cycle_s": e2e["cycle_s"]["value"],
    })
    units = layer_units()
    if set(m) != set(units):
        raise KeyError(f"per-layer metrics differ from BENCHMARK.json: {set(m) ^ set(units)}")
    return {name: {"value": float(m[name]), "unit": units[name]} for name in units}
