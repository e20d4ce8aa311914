"""Metric definitions and their computation from passes, spans and the
Spark event log.

``END_TO_END`` and ``PER_LAYER`` name every metric with its unit; the run
prints each of them for every workload, with 0 for a layer the workload
leaves idle. Per-pass quantities are reduced to their median over passes.
"""

from __future__ import annotations

import math
import statistics

import gen
from spans import SPARK_KEYS, union_len
from workloads import N_OPENINGS

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "lake_files": "count",
    "jvm_peak_rss_mb": "MB",
}

SOURCES = tuple(s[0] for s in gen.SOURCES)
PER_LAYER = {
    "cli.read_pgn_s": "s",
    "cli.find_openings_s": "s",
    "cli.export_parquet_s": "s",
    "cli.qc_jobs": "count",
    "sources.pgn.read_s": "s",
    "sources.pgn.games": "count",
    "sources.pgn.parse_errors": "count",
    "sources.pgn.splits": "count",
    "functions.chess.normalize_s": "s",
    "operators.enrich.build_s": "s",
    **{f"operators.enrich.build_s.{s}": "s" for s in SOURCES},
    "operators.enrich.build_ms_per_opening": "ms",
    "operators.enrich.exec_s": "s",
    "operators.enrich.match_ratio": "ratio",
    "plans.pipeline.export_s": "s",
    "plans.pipeline.hygiene_dropped": "count",
    "operators.publish.write_s": "s",
    "operators.publish.files_written": "count",
    "operators.publish.bytes_written": "bytes",
    "operators.publish.lake_bytes_per_input_byte": "ratio",
    "operators.publish.write_bytes_per_input_byte": "ratio",
    "operators.publish.read_with_skipping_s": "s",
    "operators.publish.skipping_file_ratio": "ratio",
    **{f"suite.{f}.{k}_s": "s" for f in ("core", "chess", "mm", "llm") for k in ("build", "exec")},
    "session.start_s": "s",
    "session.warmup_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.single_task_stages": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.cached_rdds_left": "count",
    "trace.wall_s": "s",
    "trace.residual_s": "s",
}


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (0 for no samples)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(wl, passes: list[dict], start_s, warmup_s, setup_times, rss_mb) -> dict[str, tuple[float, str]]:
    walls = [p["end"] - p["start"] for p in passes]
    durs = walls if wl.latency_per_pass else [o.dur for p in passes for o in p["ops"]]
    vals = {
        "setup_s": start_s + warmup_s + statistics.median(setup_times),
        "wall_s": _med(walls),
        "op_p50_s": quantile(durs, 0.5),
        "op_p90_s": quantile(durs, 0.9),
        "lake_files": passes[-1]["lake_files"] if passes else 0,
        "jvm_peak_rss_mb": rss_mb,
    }
    return {k: (vals[k], u) for k, u in END_TO_END.items()}


def info_lines(passes: list[dict], n_failed: int) -> list[str]:
    """Workload-specific figures printed beside the end-to-end metrics."""
    n_ops = sum(len(p["ops"]) for p in passes)
    lines = [f"samples: {len(passes)} passes, {n_ops} operations", f"failed_frac = {n_failed / max(1, n_ops)} ratio"]
    if passes and "games" in passes[-1]:
        walls = [p["end"] - p["start"] for p in passes]
        lines.append(f"games_per_s = {sum(p['games'] for p in passes) / sum(walls)} 1/s")
        for k in ("lake_bytes_per_input_byte", "write_bytes_per_input_byte"):
            lines.append(f"{k} = {passes[-1][k]} ratio")
    return lines


def _pass_ops(tracer, p: dict) -> list:
    return tracer.children(p["span"].id)


def _under(tracer, root, name: str) -> list:
    """Spans named ``name`` in the subtree of ``root``."""
    out, todo = [], [root.id]
    while todo:
        sid = todo.pop()
        for c in tracer.children(sid):
            if c.name == name:
                out.append(c)
            todo.append(c.id)
    return out


def traced_layers(wl, passes: list[dict], tracer) -> dict[str, float]:
    """Per-layer values from spans and the workload's own probes."""
    per_pass: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        per_pass.setdefault(name, []).append(v)

    for p in passes:
        ops = _pass_ops(tracer, p)
        stage_s = {"read-pgn": 0.0, "find-openings": 0.0, "export-parquet": 0.0}
        build = dict.fromkeys(SOURCES, 0.0)
        exec_s = 0.0
        for op in ops:
            stage, _, src = op.name.partition(":")
            if stage in stage_s:
                stage_s[stage] += op.dur
            if stage == "find-openings":
                build[src] = sum(s.dur for s in _under(tracer, op, "operators.enrich.build"))
                exec_s += sum(s.dur for s in _under(tracer, op, "spark.write"))
        if wl.name == "pgn_lake":
            add("cli.read_pgn_s", stage_s["read-pgn"])
            add("cli.find_openings_s", stage_s["find-openings"])
            add("cli.export_parquet_s", stage_s["export-parquet"])
            add("operators.enrich.build_s", sum(build.values()))
            for s, v in build.items():
                add(f"operators.enrich.build_s.{s}", v)
            add("operators.enrich.build_ms_per_opening", 1000 * sum(build.values()) / len(build) / N_OPENINGS)
            add("operators.enrich.exec_s", exec_s)
            add("operators.publish.lake_bytes_per_input_byte", p["lake_bytes_per_input_byte"])
            add("operators.publish.write_bytes_per_input_byte", p["write_bytes_per_input_byte"])
        for name, span_name in (
            ("plans.pipeline.export_s", "plans.pipeline.export_combined"),
            ("operators.publish.write_s", "operators.publish.write_partitioned"),
        ):
            add(name, sum(s.dur for op in ops for s in _under(tracer, op, span_name)))
        add("spark.cached_rdds_left", sum(o.info.get("cached_left", 0) for o in p["ops"]))
        add("trace.wall_s", p["end"] - p["start"])
        add("trace.residual_s", (p["end"] - p["start"]) - union_len([(o.start, o.end) for o in ops]))

    return {k: _med(v) for k, v in per_pass.items()}


def spark_per_pass(per_op: dict[int, dict], passes: list[dict]) -> dict[str, float]:
    """Event-log counters summed over each pass's operations; median pass."""
    out = {}
    for k in SPARK_KEYS:
        out[k] = _med([sum(per_op.get(o.op_id, {}).get(k, 0) for o in p["ops"]) for p in passes])
    return out


def cli_qc_jobs(jobs: dict, tracer, passes: list[dict]) -> dict[str, float]:
    """Jobs the CLI stages run themselves, outside any layer call: the
    counts and re-reads after their writes (median per pass)."""
    stage_spans = {
        o.id for p in passes for o in _pass_ops(tracer, p)
        if o.name.partition(":")[0] in ("read-pgn", "find-openings", "export-parquet")
    }
    counts = []
    for p in passes:
        ids = {o.id for o in _pass_ops(tracer, p)} & stage_spans
        counts.append(sum(1 for j in jobs.values() if j.group.split(":")[-1] in {str(i) for i in ids}))
    return {"cli.qc_jobs": _med(counts)}


def with_units(vals: dict[str, float]) -> dict[str, tuple[float, str]]:
    return {k: (vals.get(k, 0), u) for k, u in PER_LAYER.items()}


def trace_report(tracer, passes: list[dict], per_op: dict[int, dict]) -> dict:
    """Self time per span name (median over passes), the residual of the
    pass no span covers, and per-operation Spark counters."""
    names: dict[str, list[float]] = {}
    residuals = []
    for p in passes:
        ops = _pass_ops(tracer, p)
        st = tracer.self_times([o.id for o in ops])
        for k, v in st.items():
            # one row per CLI stage, not per stage and DataSource
            names.setdefault(k.split(":")[0], []).append(v)
        residuals.append((p["end"] - p["start"]) - union_len([(o.start, o.end) for o in ops]))
    self_times = {k: sum(v) / len(passes) for k, v in names.items()}
    return {
        "wall_s_mean": sum(p["end"] - p["start"] for p in passes) / max(1, len(passes)),
        "self_time_mean_s": dict(sorted(self_times.items(), key=lambda kv: -kv[1])),
        "residual_mean_s": sum(residuals) / max(1, len(residuals)),
        "ops": [
            {"name": o.name, "wall_s": o.dur, **per_op.get(o.op_id, {}), **o.info}
            for p in passes for o in p["ops"]
        ],
    }


def print_trace_report(report: dict) -> None:
    print(f"trace: mean pass wall {report['wall_s_mean']:.3f} s; self time per span name (mean per pass):")
    for k, v in report["self_time_mean_s"].items():
        print(f"  {v:9.3f} s  {k}")
    print(f"  {report['residual_mean_s']:9.3f} s  (residual: pass time no operation span covers)")
