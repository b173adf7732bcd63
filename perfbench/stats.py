"""The benchmark's arithmetic: percentiles, interval unions, the pipeline's
per-asset attribution and the traced run's per-layer rollup.

Pure functions over the harness's raw record and span list, so
`tests/test_stats.py` can check them without a JVM.
"""

import math
import statistics

MIB = float(1 << 20)

# The 14 pipeline assets: 13 committed directories, in commit order, plus
# the unresolved-countries count the pipeline takes after the last commit.
PIPELINE_ASSETS = [
    "artist_index", "artists", "countries", "articles", "releases", "tracks",
    "genres", "genres_articles", "wikipedia_articles", "vector_db",
    "graph_nodes", "graph_edges", "communities",
]
ASSETS = PIPELINE_ASSETS + ["unresolved_countries"]

MODULES = [
    "Aggregations", "JoinsSetOps", "WindowsFiltersSorts", "TextOps", "Vectors",
    "Dedup", "TextAnalysis", "GraphQueries", "Nested", "IOQueries", "Multimodal",
    "PipelineQueries", "Events", "TemporalQueries", "Curation",
]


def percentile(values, q):
    """Nearest-rank percentile `q` (0-100] of `values`.

    Returns (value, samples_beyond): the rule is to trust a percentile only
    where at least ten samples lie beyond it.
    """
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), each first
    clipped to [lo, hi] when those are given. Overlaps count once.
    """
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute_assets(t0, t1, executions):
    """Splits the pipeline interval [t0, t1] (ms) among its assets.

    `executions` are the root SQL executions of one pipeline run, each a
    dict with `start_ms`, `end_ms`, `writes` and `reads` (sets of asset
    directory names found in its plan). An asset owns its staged write and
    the read-back count that immediately follows it; time between two owned
    executions goes to the later owner, so planning and upstream reads are
    billed to the asset they feed. After the last commit, an execution that
    reads `artist_index` belongs to the checks and any other to the
    unresolved-countries count; the trailing time is the checks'. The
    shares therefore add up to t1 - t0 exactly.
    """
    execs = sorted(executions, key=lambda x: (x["start_ms"], x["end_ms"]))
    owners = [None] * len(execs)
    last_write = -1
    for i, ex in enumerate(execs):
        if ex["writes"]:
            owners[i] = sorted(ex["writes"])[0]
            last_write = i
        elif i > 0 and owners[i - 1] is not None and execs[i - 1]["writes"] \
                and ex["reads"] == {owners[i - 1]}:
            owners[i] = owners[i - 1]
    for i in range(last_write + 1, len(execs)):
        if owners[i] is None:
            owners[i] = "checks" if "artist_index" in execs[i]["reads"] else "unresolved_countries"
    shares = {a: 0.0 for a in ASSETS + ["checks"]}
    cursor = t0
    for ex, owner in zip(execs, owners):
        if owner is None:
            continue
        end = min(max(ex["end_ms"], cursor), t1)
        shares[owner] += end - cursor
        cursor = end
    shares["checks"] += t1 - cursor
    return {k: v / 1000.0 for k, v in shares.items()}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(record):
    """The end-to-end metrics of an untraced record that the record itself
    holds (the caller adds setup_s, as it knows when the JVM was launched).
    """
    iters = [i for i in record["iterations"] if not i["traced"]]
    return {"wall_s": median([i["seconds"] for i in iters])}


def layer_rollup(record, spans):
    """Per-layer metrics of the first traced iteration (the traced twin of
    an untraced run's measured iteration), plus the tracing overhead: the
    later traced iterations against the mean of the untraced ones around
    them. Returns (metrics, per-iteration metrics of every traced iteration).
    """
    cores = record["cores"]
    traced = [i for i in record["iterations"] if i["traced"]]
    untraced = [i for i in record["iterations"] if not i["traced"]]
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    op_iter = {s["id"]: s["parent"] for s in by_kind.get("op", [])}
    job_iter = {}
    for j in by_kind.get("job", []):
        if j["parent"] in op_iter:
            job_iter[j["id"]] = op_iter[j["parent"]]

    def in_iter(kind, iter_id):
        if kind == "stage":
            return [s for s in by_kind.get("stage", []) if job_iter.get(s["parent"]) == iter_id]
        return [s for s in by_kind.get(kind, []) if op_iter.get(s["parent"]) == iter_id]

    per_iter = []
    for it in traced:
        iid = "iter:%d" % it["index"]
        jobs, stages = in_iter("job", iid), in_iter("stage", iid)
        sqls, plans = in_iter("sql", iid), in_iter("plan", iid)
        wall = it["seconds"]
        covered = union_length([(j["start_ms"], j["end_ms"]) for j in jobs],
                               it["start_ms"], it["end_ms"]) / 1000.0

        def stage_sum(key):
            return sum(s["attrs"].get(key, 0) for s in stages)

        task_run_s = stage_sum("run_ms") / 1000.0
        m = {
            "spark.outside_job_s": max(0.0, (it["end_ms"] - it["start_ms"]) / 1000.0 - covered),
            "spark.plan_s": sum(v for p in plans for k, v in p["attrs"].items()
                                if k in ("analysis_ms", "optimization_ms", "planning_ms")) / 1000.0,
            "spark.query_executions": len(sqls),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": stage_sum("tasks"),
            "spark.task_run_s": task_run_s,
            "spark.task_cpu_s": stage_sum("cpu_ns") / 1e9,
            "spark.core_util": task_run_s / (wall * cores) if wall > 0 else 0.0,
            "spark.gc_s": stage_sum("gc_ms") / 1000.0,
            "spark.shuffle_write_mb": stage_sum("shuffle_write_bytes") / MIB,
            "spark.shuffle_read_mb": stage_sum("shuffle_read_bytes") / MIB,
            "engine.input_mb": stage_sum("input_bytes") / MIB,
            "engine.input_rows": stage_sum("input_rows"),
            "io.bytes_written_mb": stage_sum("output_bytes") / MIB,
            "io.files_written": sum(p["attrs"].get("files", 0) for p in plans),
            "io.write_jobs": len({s["parent"] for s in stages if s["attrs"].get("output_bytes", 0) > 0}),
            "memo.entries": it["memo_peak"],
            "memo.storage_peak_mb": it["storage_peak_bytes"] / MIB,
            "queries.p50_s": percentile([o["seconds"] for o in it["ops"]], 50)[0],
            "queries.p90_s": percentile([o["seconds"] for o in it["ops"]], 90)[0],
            "queries.ops": len(it["ops"]),
        }
        for mod in MODULES:
            m["queries.%s_s" % mod] = sum(o["seconds"] for o in it["ops"] if o["module"] == mod)
        shares = {k: 0.0 for k in ASSETS + ["checks"]}
        pipe = [o for o in it["ops"] if o["name"] == "pipeline"]
        if pipe:
            roots = [{"start_ms": s["start_ms"], "end_ms": s["end_ms"],
                      "writes": set(filter(None, s["attrs"]["writes"].split(","))),
                      "reads": set(filter(None, s["attrs"]["reads"].split(",")))}
                     for s in sqls if s["attrs"]["root"] == s["id"].split(":", 1)[1]]
            shares = attribute_assets(pipe[0]["start_ms"], pipe[0]["end_ms"], roots)
        for k, v in shares.items():
            m["pipeline.%s_s" % k] = v
        per_iter.append(m)

    metrics = dict(per_iter[0]) if per_iter else {}
    metrics["trace.wall_s"] = traced[0]["seconds"] if traced else 0.0
    warm_traced = median([i["seconds"] for i in traced[1:]])
    warm_untraced = statistics.mean([i["seconds"] for i in untraced]) if untraced else 0.0
    metrics["trace.warm_traced_s"] = warm_traced
    metrics["trace.warm_untraced_s"] = warm_untraced
    metrics["trace.overhead_pct"] = 100.0 * (warm_traced / warm_untraced - 1.0) if warm_untraced else 0.0
    return metrics, per_iter
