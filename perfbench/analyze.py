"""Turns the benchmark JVM's records into metrics.

The JVM (src/main/scala/perfbench) writes one JSON object per line; this
module parses them, attributes Spark jobs to repository modules by call
site, and computes the end-to-end and per-layer metrics that `run.py`
reports. It has no Spark dependency, so its rules are unit-tested on
synthetic records (tests/test_analyze.py).
"""
import json
import math
import os
import re
import statistics

# Percentiles a tail may be reported at; the tail is the highest of these
# that still has at least TAIL_BEYOND samples above it.
TAIL_LADDER = [50, 75, 90, 95, 99, 99.9]
TAIL_BEYOND = 10

# Modules whose job time the traced run reports, as `jobtime.<short>`.
JOBTIME_MODULES = {"graft.weather": "weather", "graft.sources": "sources",
                   "graft.operators": "operators", "graft.datapipe": "datapipe",
                   "graft": "graft"}
# Registry packages whose queries get build/plan/exec splits.
QUERY_PACKAGES = {"graft.operators": "operators", "graft.weather": "weather",
                  "graft.datapipe": "datapipe"}
FUNCTIONS = ["graft_phash", "word_stats", "gram_phashes",
             "word_shingle_phashes", "winnow_fps", "simhash_fp",
             "minhash_sigs", "nearest_centroid"]

RECORD_TYPES = {"setup", "warmup", "op", "job", "sql", "probe", "check", "end"}


def parse_records(lines):
    """Parses the JVM's JSON-lines output. Blank lines are skipped; a line
    that is not a JSON object of a known record type raises ValueError."""
    records = []
    for no, line in enumerate(lines, 1):
        line = line.strip()
        if not line:
            continue
        try:
            rec = json.loads(line)
        except json.JSONDecodeError as e:
            raise ValueError(f"line {no}: not JSON: {e}") from None
        if not isinstance(rec, dict) or rec.get("t") not in RECORD_TYPES:
            raise ValueError(f"line {no}: not a benchmark record: {line[:80]}")
        records.append(rec)
    return records


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples (rounded first,
    so that 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    return sorted(values)[_rank(p, len(values)) - 1]


def tail(values):
    """(percentile, value) of the highest ladder percentile with at least
    TAIL_BEYOND samples above it; the median when there are too few."""
    n = len(values)
    best = 50
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_BEYOND:
            best = p
    if best == 50:
        return best, statistics.median(values)
    return best, percentile(values, best)


def module_index(src_root):
    """{source file name: module}, where a module is the package directory
    of the file under `src_root` (graft/weather/X.scala -> graft.weather)."""
    index = {}
    for dirpath, _, files in os.walk(src_root):
        pkg = os.path.relpath(dirpath, src_root).replace(os.sep, ".")
        for f in files:
            if f.endswith(".scala"):
                index[f] = pkg
    return index


_SITE = re.compile(r"^\S.* at ([A-Za-z0-9_$]+\.scala)(?::\d+)?$")


def site_module(site, index):
    """Module of a short call site such as `count at WeatherIngest.scala:125`,
    or None when the site is not a repository source file."""
    m = _SITE.match(site or "")
    return index.get(m.group(1)) if m else None


def job_module(job, sql_by_id, index):
    """A job's module: from its own call site, else from the call site of
    the root SQL execution it ran under (jobs Spark launches from its own
    threads, such as broadcasts, carry a JDK frame as call site)."""
    mod = site_module(job.get("site"), index)
    if mod is None and job.get("sql_exec", -1) in sql_by_id:
        sql = sql_by_id[job["sql_exec"]]
        root = sql_by_id.get(sql.get("root"), sql)
        mod = site_module(root.get("site"), index) or site_module(sql.get("site"), index)
    return mod


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _ops(records, kind):
    return [r for r in records if r["t"] == "op" and r["kind"] == kind
            and r.get("pass", 1) > 0]


def op_kind(workload):
    return "cycle" if workload == "ingest" else "query"


def end_to_end(records, workload):
    """The end-to-end metrics of an untraced run, plus facts to print."""
    setup = next(r for r in records if r["t"] == "setup")
    warm = sum(r["s"] for r in records if r["t"] == "warmup")
    ops = [r for r in _ops(records, op_kind(workload)) if r["ok"]]
    lat = [r["s"] * 1000 for r in ops]
    pct, tail_ms = tail(lat)
    end = next(r for r in records if r["t"] == "end")
    metrics = {
        "setup_s": (setup["session_s"] + setup["fixture_s"] + warm, "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_tail_ms": (tail_ms, "ms"),
        "ops_per_s": (len(ops) / (sum(r["s"] for r in ops)), "1/s"),
        "heap_retained_mb": (end["heap_retained_mb"], "MiB"),
    }
    facts = {"tail_percentile": pct, "op_samples": len(lat),
             "peak_rss_mb": end["peak_rss_mb"]}
    return metrics, facts


def per_layer(records, workload, index, cores):
    """The per-layer metrics of a traced run. Metrics of a layer the
    workload does not exercise are 0."""
    m = {}
    kind = op_kind(workload)
    all_ops = _ops(records, kind)
    traced = [r for r in all_ops if r.get("traced")]
    untraced = [r for r in all_ops if not r.get("traced")]
    jobs = [r for r in records if r["t"] == "job"]
    sqls = [r for r in records if r["t"] == "sql"]
    sql_by_id = {r["id"]: r for r in sqls}
    probes = [r for r in records if r["t"] == "probe"]

    def within(rec, op):
        end = op["start"] + op["s"] * 1000
        return op["start"] - 1 <= rec["start"] <= end + 1

    n = max(1, len(traced))
    op_jobs = [[j for j in jobs if within(j, op)] for op in traced]
    flat = [j for js in op_jobs for j in js]
    job_ms = sum(j["end"] - j["start"] for j in flat)
    wall_ms = sum(op["s"] * 1000 for op in traced)
    m["spark.jobs_per_op"] = (len(flat) / n, "count")
    m["spark.stages_per_op"] = (sum(j["stages"] for j in flat) / n, "count")
    m["spark.tasks_per_op"] = (sum(j["tasks"] for j in flat) / n, "count")
    m["spark.no_job_s"] = (sum(
        op["s"] - union_ms([(j["start"], j["end"]) for j in js]) / 1000
        for op, js in zip(traced, op_jobs)) / n, "s")
    m["spark.task_busy_frac"] = (
        sum(j["run_ms"] for j in flat) / (wall_ms * cores) if wall_ms else 0.0, "ratio")
    m["spark.gc_s"] = (sum(j["gc_ms"] for j in flat) / 1000 / n, "s")
    m["spark.shuffle_bytes"] = (sum(j["shuffle_bytes"] for j in flat) / n, "bytes")
    m["spark.spill_bytes"] = (sum(j["spill_bytes"] for j in flat) / n, "bytes")
    by_module = {}
    for j in flat:
        mod = job_module(j, sql_by_id, index)
        by_module[mod] = by_module.get(mod, 0) + j["end"] - j["start"]
    attributed = sum(v for k, v in by_module.items() if k is not None)
    m["spark.job_attributed_frac"] = (attributed / job_ms if job_ms else 1.0, "ratio")
    for mod, short in JOBTIME_MODULES.items():
        m[f"jobtime.{short}_s"] = (by_module.get(mod, 0) / 1000 / n, "s")

    def probe(name):
        return [p for p in probes if p["name"] == name]

    ext = probe("sources.extract")
    ext_s = sum(p["s"] for p in ext)
    ext_rows = sum(p["rows"] for p in ext)
    m["sources.extract_s"] = (ext_s / len(ext) if ext else 0.0, "s")
    m["sources.rows_decoded"] = (ext_rows, "count")
    m["sources.decode_rows_per_s"] = (ext_rows / ext_s if ext_s else 0.0, "1/s")

    cycles = _ops(records, "cycle")
    backfill = [r for r in records if r["t"] == "op" and r["kind"] == "backfill"]
    m["weather.jobs_per_cycle"] = (m["spark.jobs_per_op"][0] if workload == "ingest" else 0.0, "count")
    for name in ("cursor", "upsert"):
        ps = probe(f"weather.{name}")
        m[f"weather.{name}_s"] = (sum(p["s"] for p in ps) / len(ps) if ps else 0.0, "s")
    fetched = sum(c["fetched"] for c in cycles)
    m["weather.insert_yield"] = (
        sum(c["inserted"] for c in cycles) / fetched if fetched else 0.0, "ratio")
    m["weather.backfill_rows_per_s"] = (
        sum(b["inserted"] for b in backfill) / sum(b["s"] for b in backfill)
        if backfill else 0.0, "1/s")

    def probe_value(name):
        ps = probe(name)
        return ps[-1]["value"] if ps else 0

    rows = probe_value("sink.rows")
    m["sink.files"] = (probe_value("sink.files"), "count")
    m["sink.bytes"] = (probe_value("sink.bytes"), "bytes")
    m["sink.bytes_per_row"] = (probe_value("sink.bytes") / rows if rows else 0.0, "bytes")
    writes = [s for s in sqls if s.get("write")
              and any(within(s, op) for op in traced)]
    inserting = [op for op in traced if op.get("inserted", 0) > 0]
    m["sink.write_s"] = (sum(s["end"] - s["start"] for s in writes) / 1000
                         / len(inserting) if inserting else 0.0, "s")

    queries = [r for r in _ops(records, "query") if r["ok"]]
    for pkg, short in QUERY_PACKAGES.items():
        qs = [q for q in queries if q["module"] == pkg]
        for part in ("build", "plan", "exec"):
            m[f"{short}.{part}_s"] = (
                sum(q[f"{part}_s"] for q in qs) / len(qs) if qs else 0.0, "s")

    for f in FUNCTIONS:
        ps = probe(f"functions.{f}")
        m[f"functions.{f}.rows_per_s"] = (
            ps[0]["rows"] / ps[0]["s"] if ps and ps[0]["s"] else 0.0, "1/s")

    if traced and untraced:
        mean_t = statistics.mean(r["s"] for r in traced if r["ok"])
        mean_u = statistics.mean(r["s"] for r in untraced if r["ok"])
        m["trace_overhead_frac"] = (mean_t / mean_u - 1, "ratio")
    else:
        m["trace_overhead_frac"] = (0.0, "ratio")
    return m


def correctness(records, goldens):
    """(attempted, failed, problems) over the timed operations, plus every
    warm-up operation and invariant check, which can only add problems."""
    problems = []
    attempted = failed = 0
    for r in records:
        if r["t"] == "op":
            bad = None
            if not r["ok"]:
                bad = r.get("error") or "failed"
            elif r["kind"] == "query":
                want = goldens.get(r["name"])
                got = f"{r['hash']}:{r['rows']}"
                if want != got:
                    bad = f"result hash {got}, golden {want}"
            if bad:
                problems.append(f"{r['kind']} {r['name']} (pass {r.get('pass', 1)}): {bad}")
            if r.get("pass", 1) > 0:
                attempted += 1
                failed += bad is not None
        elif r["t"] == "check" and not r["ok"]:
            problems.append(f"check {r['name']}: {r.get('detail', '')}")
    return attempted, failed, problems
