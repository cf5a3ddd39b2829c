"""Per-layer metrics of the traced run.

Every workload's operations run as traced spans twice in one session. The
counts that do not depend on the host (jobs, exchanges, shuffle records,
rows returned by Python operators, output rows) must repeat exactly between
the two passes, and so must every output's digest; a difference counts as a
failed operation. A layer's metric is the sum over its calls in one pass
(``self_s``: the faster of the two passes); a ratio is the summed numerator
over the summed denominator.
"""

from __future__ import annotations

import json
from spans import Tracer

EXACT = ("jobs", "exchanges", "shuffle_records", "python_rows", "rows_out")
BASE = {
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "exchanges": ("count", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "shuffle_records": ("count", "lower"),
    "python_rows": ("count", "lower"),
    "rows_out": ("count", "higher"),
}
_AGG = {"peak_agg_mem_bytes": ("bytes", "lower"), "spill_bytes": ("bytes", "lower")}
_WRITE = {"rows_written": ("count", "higher")}
_VERIFY = {"verify_hit_ratio": ("ratio", "higher")}
#: layer -> its extra metrics, in the order of the layer table
LAYERS = {
    "io.read_table": {"bytes_read": ("bytes", "lower"), "files_read": ("count", "lower")},
    "rasterize.assign_tiles": _AGG,
    "rasterize.rasterize_cell_type": _AGG,
    "rasterize.rasterize_gene_expression": _AGG,
    "rasterize.rollup_tiles": _AGG,
    "permutate.permutate_by_rotation": {"fanout_ratio": ("ratio", "lower")},
    "io.checkpointed_write": _WRITE,
    "vector.write_geojson_lines": _WRITE,
    "vector.spatial_join_corpus": {"pip_hit_ratio": ("ratio", "higher")},
    "knn.knn_join": {"rounds": ("count", "lower"), "candidates_per_result": ("ratio", "lower")},
    "pointpat.pair_stats": {
        "pair_hit_ratio": ("ratio", "higher"),
        "max_task_records": ("count", "lower"),
    },
    "text.minhash_lsh_candidates": _VERIFY,
    "text.exact_dedup": _VERIFY,
    "text.new_documents": {"bloom_bypass_share": ("ratio", "higher")},
    "similarity.cosine_near_duplicates": _VERIFY,
}
OVERHEAD = ("trace.overhead_s", "s", "lower")


def metric_specs() -> list[dict]:
    """The ``per_layer`` entries of BENCHMARK.json."""
    out = []
    for layer, extra in LAYERS.items():
        for m, (unit, better) in {**BASE, **extra}.items():
            out.append({"name": f"{layer}.{m}", "unit": unit, "better": better})
    name, unit, better = OVERHEAD
    out.append({"name": name, "unit": unit, "better": better})
    return out


def _layer_values(spans, self_s: dict) -> dict:
    sums: dict = {}
    for sp in spans:
        acc = sums.setdefault(sp.name, {})
        for k, v in {**sp.counts(), **sp.extra}.items():
            if isinstance(v, tuple):
                num, den = acc.get(k, (0, 0))
                acc[k] = (num + v[0], den + v[1])
            else:
                acc[k] = acc.get(k, 0) + v
    values = {}
    for layer, acc in sums.items():
        acc["self_s"] = self_s[layer]
        for k, v in acc.items():
            values[f"{layer}.{k}"] = v[0] / v[1] if isinstance(v, tuple) and v[1] else (
                0.0 if isinstance(v, tuple) else v)
    return values


def traced_metrics(workloads, tally, refs, run_iteration) -> dict:
    """Traced pass A records every output's digest, traced pass B runs the
    cheap checks and must reproduce the digests. The deep checks belong to
    the untraced runs. The overhead is reported for ``workloads[0]``: the
    gap between its traced and untraced iteration wall."""
    main_wl = workloads[0]
    tracer = Tracer(main_wl.ctx.spark)
    passes, traced_walls = [], []
    for p in range(2):
        tracer.spans = []
        for wl in workloads:
            mode = "ref" if p == 0 else "cheap"
            wall = run_iteration(wl, 2 * p, mode, refs, tally, tracer)
            if wl is main_wl:
                traced_walls.append(wall)
        passes.append(tracer.spans)
    a, b = passes
    for sa, sb in zip(a, b):
        ca, cb = sa.counts(), sb.counts()
        diff = {k: (ca[k], cb[k]) for k in EXACT if ca[k] != cb[k]}
        if diff:
            tally.failed += 1
            tally.errors.append(f"{sa.label}: traced counts differ between passes: {diff}")
    if len(a) != len(b):
        tally.failed += 1
        tally.errors.append(f"traced passes recorded {len(a)} and {len(b)} spans")
    self_s: dict = {}
    for spans in passes:
        per = {}
        for sp in spans:
            per[sp.name] = per.get(sp.name, 0.0) + sp.self_s
        for k, v in per.items():
            self_s.setdefault(k, []).append(v)
    # pass A holds each operation's first calls; the faster pass is the
    # steady one
    values = _layer_values(a, {k: min(v) for k, v in self_s.items()})
    print("spans " + json.dumps([
        {"span": sp.name, "call": sp.label, **sp.counts(), **{
            k: (list(v) if isinstance(v, tuple) else v) for k, v in sp.extra.items()}}
        for sp in a
    ]), flush=True)
    # what tracing adds to the chosen workload: its traced pass-B wall
    # minus the wall of one untraced iteration right after
    untraced = run_iteration(main_wl, 4, "cheap", refs, tally)
    overhead = traced_walls[1] - untraced
    print("trace " + json.dumps({
        "workload": main_wl.name, "traced_walls_s": traced_walls,
        "untraced_wall_s": untraced, "overhead_s": overhead,
    }), flush=True)
    metrics = {}
    for spec in metric_specs():
        name = spec["name"]
        if name == OVERHEAD[0]:
            metrics[name] = (overhead, spec["unit"])
        elif name in values:
            metrics[name] = (values[name], spec["unit"])
        else:
            tally.failed += 1
            tally.errors.append(f"traced run recorded no value for {name}")
    return metrics
