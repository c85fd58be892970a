#!/usr/bin/env python3
"""Repo benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and this
benchmark from source with sbt (into target/ directories) and generates the
input tables under perfbench/target/fixtures; later runs reuse both while
the sources are unchanged. Each run then starts one fresh JVM with its own
java.io.tmpdir and Spark local directory, both deleted afterwards, so no
run reads store generations persisted by an earlier one.

The seed picks the serve_mixed op list (order and parameters); the batch
lists run in a fixed order. The JVM receives only the list. Every result
is checked against the fingerprints recorded in perfbench/expected.json.
The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones. A run record
(seed, nproc, Spark conf, heap limit, commit, fixture dirs, per-op detail)
is written under perfbench/target/results/.

    python3 perfbench/run.py --record <workload>
re-records the expected fingerprints of every op class and parameter of a
workload (only for a deliberate change of results).
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

ROOT = HERE.parent
WORK = HERE / "target"
FIXTURES = WORK / "fixtures"
BASE = FIXTURES / "sf0.1"
# class-data archive of the classes a session loads, dumped once per build:
# it cuts JVM and session start by seconds in every run
CDS = WORK / "classes.jsa"
EXPECTED = HERE / "expected.json"
HEAP = "3g"
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# --- workloads -------------------------------------------------------------

# Each batch list is a fixed subset of the queries its layer owns, sized so
# that every run the benchmark contract asks for fits its time budget (see
# CHANGES.md for what was left out).
# A batch list runs in the fixed order written here, whatever the seed: the
# JVM keeps warming through the timed list (an op runs 10-25 % slower near
# the front than near the end), so a seeded order moved each op's latency
# with its position and op_p50_s with it. The first op is the cheap one.
# driver loops: Iterate rounds of many tiny jobs, plus q210's own loop
FIXPOINT = ["q173_hits", "q164_components_stars", "q210_markov_stationary",
            "q247_luby_mis"]
# lifecycle-class queries (store_builds keys of bench_passes.json): each
# builds, publishes and re-reads store generations inside the timed call,
# from a fresh tmpdir, next to StatsCatalog reads and the q319 stream
# re-ingest. All but q163 and q319 take about 2 s, so op_p50_s is the middle
# of six ops spread over the run and moves with wall_s, not with one op;
# q275 (index generations, 5-9 s) is left out for that reason, while
# IndexStore generations are still published by the stats and stream ops
STORE = ["q163_summary_routing", "q287_incremental_stats_append",
         "q305_incremental_histogram", "q317_string_counter_stats",
         "q319_stream_erasure_reingest", "q313_counter_in_broadcast",
         "q324_exists_semi_broadcast", "q292_multi_column_stats_append"]
# untimed warm-up before each batch list: one cheap query of the same kind
WARMUP = {"fixpoint_loops": "q148_kcore", "store_churn": "q264_hdr_histogram"}
# the class-data archive is dumped from a JVM that ran these (cheap ones
# touching the loop, store, streaming and SQL-text paths), so their classes
# load from the archive in every run
ARCHIVE_QUERIES = ["q148_kcore", "q264_hdr_histogram", "q198_sql_scripting",
                   "q132_sql_endpoint"]

Q132 = """SELECT name,
       max_by(version, version_sort_key(version)) AS latest_version,
       count(DISTINCT version) AS n_versions,
       sum(CASE WHEN version_compare(version, '3.0.0-r1') >= 0
                THEN 1 ELSE 0 END) AS n_ge_3
FROM v_packages
GROUP BY name
ORDER BY name"""

Q198 = """BEGIN
  DECLARE avg_n BIGINT DEFAULT 0;
  SET avg_n = (SELECT count(*) div count(DISTINCT name) FROM v_pkg_script);
  SELECT name, count(*) AS n_records, avg_n AS threshold
  FROM v_pkg_script
  GROUP BY name, avg_n
  HAVING count(*) >= avg_n
  ORDER BY name;
END"""

Q180 = """WITH RECURSIVE reach AS (
  SELECT '{root}' AS name, 0 AS depth
  UNION ALL
  SELECT e.dep AS name, r.depth + 1 AS depth
  FROM reach r JOIN v_res_edges e ON e.name = r.name
  WHERE r.depth < 6)
SELECT name, CAST(min(depth) AS INT) AS depth,
       CAST(count(*) AS BIGINT) AS n_walks
FROM reach
GROUP BY name
ORDER BY name"""

Q01 = """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2) AS avg_qty,
       round(avg(l_extendedprice), 2) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM v_lineitem
WHERE l_shipdate <= TIMESTAMP_NTZ '1998-12-01 00:00:00' - INTERVAL {days} DAYS
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""


def pkg(i):
    return f"pkg-{i:02d}"


def path_of(pid):
    return f"/usr/{('bin', 'lib', 'share', 'etc')[pid % 4]}/f{pid:02d}"


# Serve request classes: (weight, parameter pool, SQL text for a parameter)
SERVE_CLASSES = {
    "pkg_versions": (40, [pkg(i) for i in range(60)],
                     lambda p: "SELECT pkg_id, version, arch, size_mb FROM v_packages "
                               f"WHERE name = '{p}' ORDER BY pkg_id"),
    "file_owner": (20, [path_of(i) for i in range(97)],
                   lambda p: "SELECT pkg_id, name, version FROM v_files "
                             f"WHERE path = '{p}' ORDER BY pkg_id"),
    "latest_versions": (15, [""], lambda p: Q132),
    "script_report": (10, [""], lambda p: Q198),
    "closure": (10, [pkg(i) for i in range(60)], lambda p: Q180.format(root=p)),
    "pricing": (5, [str(d) for d in range(60, 121, 10)], lambda p: Q01.format(days=p)),
}
SERVE_REQUESTS = 200  # the least for which p95 has 10 samples beyond it

# one pass over each batch list takes about this long on a 4-core box; a
# run makes as many passes as --seconds rounds to, at least one
PASS_S = {"fixpoint_loops": 20.0, "store_churn": 20.0}
BATCH = {"fixpoint_loops": FIXPOINT, "store_churn": STORE}
WORKLOADS = ["serve_mixed"] + list(BATCH)


def query_op(name, warmup=False):
    return {"cls": name, "param": "", "body": name, "warmup": warmup}


def http_op(cls, p):
    return {"cls": cls, "param": p, "body": SERVE_CLASSES[cls][2](p), "warmup": False}


def numbered(ops):
    for i, op in enumerate(ops):
        op["id"] = i
    return ops


def make_ops(workload, seed, seconds):
    """The op list for one run: the same multiset of op classes for every
    seed. On serve_mixed the seed picks order and parameters; a batch list
    has neither (judged queries take no parameters) and runs in its fixed
    order. Warm-up ops come first."""
    if workload != "serve_mixed":
        passes = max(1, round(seconds / PASS_S[workload]))
        return numbered([query_op(WARMUP[workload], warmup=True)]
                        + [query_op(n) for _ in range(passes) for n in BATCH[workload]])
    # setup's q180 and q198 runs warm the serving path
    rng = random.Random(f"{workload}:{seed}")
    total = sum(w for w, _, _ in SERVE_CLASSES.values())
    ops = [http_op(cls, rng.choice(pool)) for cls, (w, pool, _) in SERVE_CLASSES.items()
           for _ in range(SERVE_REQUESTS * w // total)]
    rng.shuffle(ops)
    return numbered(ops)


def record_ops(workload):
    """Every class and parameter of a workload once, for --record."""
    if workload == "serve_mixed":
        return numbered([http_op(c, p) for c, (_, pool, _) in SERVE_CLASSES.items()
                         for p in pool])
    return numbered([query_op(n) for n in BATCH[workload]])


# --- build and fixtures ----------------------------------------------------

def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def run_logged(cmd, log, timeout, **kw):
    """Run cmd to completion with output to `log`; kill it on timeout."""
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def build():
    """Compile engine and benchmark; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources next to {HERE.name}/ (run from a full checkout)")
    digest = source_digest()
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = WORK / "build.log"
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                     "export Runtime/fullClasspathAsJars"],
                    log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    lines = log.read_text(errors="replace").splitlines()
    if rc != 0 or not lines or "perfbench_" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (rc={rc}); see {log}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    CDS.unlink(missing_ok=True)
    CDS.with_suffix(".failed").unlink(missing_ok=True)
    stamp.write_text(digest)
    return cp


def java_cmd(cp, run_dir, *args, archive=None):
    """The JVM command for one run, with its own tmpdir and Spark local
    directory under `run_dir`. `archive` dumps the class-data archive at
    exit instead of using it."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cds = ([f"-XX:ArchiveClassesAtExit={archive}"] if archive
           else [f"-XX:SharedArchiveFile={CDS}"] if CDS.is_file() else [])
    return ["java", *opens, *cds, "-Xlog:cds=off", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}", "-cp", cp, "graft.perfbench.Main", *args]


def run_aux_jvm(cp, log, *args, archive=None):
    run_dir = WORK / "runs" / f"{args[0]}-{uuid.uuid4().hex[:8]}"
    try:
        return run_logged(java_cmd(cp, run_dir, *args, archive=archive),
                          log, BUILD_TIMEOUT_S, cwd=run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def prepare(cp):
    """Generate the input tables once per checkout and the class-data
    archive once per build; returns the seconds the table generation took
    (recorded when it ran)."""
    gen = FIXTURES / "gen_s.txt"
    if not ((BASE / "_COMPLETE").is_file() and gen.is_file()):
        FIXTURES.mkdir(parents=True, exist_ok=True)
        t0 = time.monotonic()
        rc = run_aux_jvm(cp, FIXTURES / "gen.log", "fixture", str(BASE))
        if rc != 0:
            die(f"fixture generation failed (rc={rc}); see {FIXTURES / 'gen.log'}")
        gen.write_text(repr(time.monotonic() - t0))
    failed = CDS.with_suffix(".failed")
    if not CDS.is_file() and not failed.is_file():
        # best effort, tried once per build: without an archive the JVM
        # loads classes as usual
        tmp = CDS.with_suffix(".tmp")
        rc = run_aux_jvm(cp, WORK / "cds.log", "archive", str(BASE), *ARCHIVE_QUERIES,
                         archive=tmp)
        if rc == 0 and tmp.is_file():
            tmp.rename(CDS)
        else:
            failed.touch()
    return float(gen.read_text())


# --- one run ---------------------------------------------------------------

def run_jvm(cp, workload, ops, trace, cores):
    """Run one workload in a fresh JVM; returns (records, spans)."""
    run_dir = WORK / "runs" / f"{workload}-{uuid.uuid4().hex[:8]}"
    run_dir.mkdir(parents=True)
    try:
        ops_file, out, spans = run_dir / "ops.jsonl", run_dir / "out.jsonl", run_dir / "spans.jsonl"
        ops_file.write_text("".join(json.dumps(o) + "\n" for o in ops))
        cmd = java_cmd(cp, run_dir, "run", workload, str(ops_file), str(out),
                       "1" if trace else "0", str(BASE), str(cores), str(spans))
        rc = run_logged(cmd, run_dir / "jvm.log", RUN_TIMEOUT_S, cwd=run_dir)
        if rc != 0 or not out.is_file():
            log = (run_dir / "jvm.log").read_text(errors="replace").splitlines()
            sys.stderr.write("\n".join(log[-30:]) + "\n")
            die(f"{workload} JVM failed (rc={rc})")
        records = [json.loads(l) for l in out.read_text().splitlines() if l.strip()]
        span_recs = ([json.loads(l) for l in spans.read_text().splitlines() if l.strip()]
                     if spans.is_file() else [])
        return records, span_recs
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def end_to_end(setup, end, latencies):
    # serve_mixed gives the p95 10 samples beyond it; a batch list is too
    # short for that, and its p95 is its slowest op
    p95 = metrics.tail_percentile(latencies, 0.95)
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (end["wall_s"], "s"),
        "retained_heap_mb": (end["retained_heap_mb"], "MB"),
        "op_p50_s": (statistics.median(latencies), "s"),
        "op_p95_s": (p95 if p95 is not None else metrics.nearest_rank(latencies, 0.95), "s"),
    }


def per_layer(workload, setup, end, ops, attempted, failed, fixture_gen_s, untraced_wall):
    """Per-layer metrics of a traced run: totals over the run's ops."""
    serve = workload == "serve_mixed"
    # Serve's counters are per run: concurrent requests share the session
    src = [end] if serve else ops
    s = lambda k: sum(o.get(k, 0) for o in src)  # noqa: E731
    if serve:
        busy = metrics.union_length(end["job_intervals_ms"]) / 1e3
        gap = end["wall_s"] - busy
        reqs = [(o["id"], o["wall_start_ms"], o["wall_end_ms"]) for o in ops]
        spans = {e[0]: (e[1], e[2]) for e in end["sql_spans"]}
        execs = [(c[0], spans[c[0]][0], spans[c[0]][1], c[1] / 1e9)
                 for c in end["collects"] if c[0] in spans and spans[c[0]][1] >= 0]
        matched = metrics.match_collects(reqs, execs)
        overhead = [o["end_s"] - o["start_s"] - matched[o["id"]] for o in ops if o["id"] in matched]
    else:
        busy = sum(metrics.union_length(o["job_intervals_ms"]) / 1e3 for o in ops)
        gap = sum(o["end_s"] - o["start_s"] for o in ops) - busy
        overhead = []
    calls, jobs, rounds = s("graft_rule_calls"), s("jobs"), s("rounds")
    m = {
        "failed_frac": (failed / attempted, "ratio"),
        "queries.build_s": (s("build_s"), "s"),
        "queries.action_s": (s("action_s"), "s"),
        "plans.analysis_s": (s("analysis_s"), "s"),
        "plans.optimization_s": (s("optimization_s"), "s"),
        "plans.planning_s": (s("planning_s"), "s"),
        "plans.graft_rules_s": (s("graft_rules_s"), "s"),
        "plans.graft_rules_effective_frac": (s("graft_rule_effective") / calls if calls else 0.0, "ratio"),
        "exec.jobs_per_op": (jobs / len(ops), "count"),
        "exec.stages": (s("stages"), "count"),
        "exec.tasks": (s("tasks"), "count"),
        "exec.job_busy_s": (busy, "s"),
        "exec.driver_gap_s": (gap, "s"),
        "exec.executor_run_s": (s("executor_run_s"), "s"),
        "exec.executor_cpu_s": (s("executor_cpu_s"), "s"),
        "exec.input_bytes": (s("input_bytes"), "B"),
        "exec.shuffle_write_bytes": (s("shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (s("spill_bytes"), "B"),
        "operators.rounds": (rounds, "count"),
        "operators.round_s": (s("round_s"), "s"),
        "operators.jobs_per_round": (s("round_jobs") / rounds if rounds else 0.0, "count"),
        "stores.metered_build_thread_s": (s("metered_build_thread_s"), "s"),
        "io.read_bytes": (s("io_read_bytes"), "B"),
        "io.write_bytes": (s("io_write_bytes"), "B"),
        "streaming.batches": (s("stream_batches"), "count"),
        "streaming.batch_s": (s("stream_batch_s"), "s"),
        "serve.requests": (len(ops) if serve else 0, "count"),
        "serve.non200": (sum(1 for o in ops if o.get("status") not in (None, 200)), "count"),
        "serve.overhead_s": (statistics.median(overhead) if overhead else 0.0, "s"),
        "jvm.gc_s": (end["gc_s"], "s"),
        "setup.session_s": (setup["session_s"], "s"),
        "setup.prebuild_s": (setup["prebuild_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "setup.fixture_gen_s": (fixture_gen_s, "s"),
        "trace.overhead_frac": (end["wall_s"] / untraced_wall - 1, "ratio"),
    }
    return m


def load_json(path, default):
    try:
        return json.loads(path.read_text())
    except (OSError, ValueError):
        return default


def update_job_ledger(workload, ops):
    """Per-op job counts across the traced runs of this checkout; an op
    class whose count ever differed is marked non-repeating."""
    path = WORK / "job_counts.json"
    ledger = load_json(path, {})
    seen = ledger.setdefault(workload, {})
    for o in ops:
        key = f"{o['cls']}|{o['param']}"
        counts = seen.setdefault(key, [])
        if o["jobs"] not in counts:
            counts.append(o["jobs"])
    path.write_text(json.dumps(ledger, indent=1, sort_keys=True))
    return {k: {"jobs": v, "repeating": len(v) == 1} for k, v in seen.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", choices=WORKLOADS)
    a = ap.parse_args()
    if not a.workload and not a.record:
        ap.error("--workload or --record is required")

    cp = build()
    cores = len(os.sched_getaffinity(0))
    gen_s = prepare(cp)

    if a.record:
        records, _ = run_jvm(cp, a.record, record_ops(a.record), False, cores)
        ops = [r for r in records if r["type"] == "op"]
        bad = [o for o in ops if not o["ok"]]
        if bad:
            die("cannot record failing ops:\n" + "\n".join(
                f"{o['cls']} {o['param']}: {o.get('error')}" for o in bad))
        expected = load_json(EXPECTED, {})
        expected[a.record] = {}
        for o in ops:
            expected[a.record].setdefault(o["cls"], {})[o["param"]] = o["fp"]
        EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
        for o in ops:
            print(f"{o['cls']:34s} {o['param']:16s} {o['end_s'] - o['start_s']:8.3f}")
        print(json.dumps({"recorded": a.record, "ops": len(ops)}))
        return

    expected = load_json(EXPECTED, {}).get(a.workload, {})
    ops_in = make_ops(a.workload, a.seed, a.seconds)
    ledger_path = WORK / "untraced_wall.json"
    walls = load_json(ledger_path, {})
    if a.trace and not walls.get(a.workload):
        # the overhead of tracing needs an untraced wall_s from this checkout
        recs, _ = run_jvm(cp, a.workload, ops_in, False, cores)
        walls.setdefault(a.workload, []).append(
            next(r for r in recs if r["type"] == "end")["wall_s"])
        ledger_path.write_text(json.dumps(walls))

    records, spans = run_jvm(cp, a.workload, ops_in, bool(a.trace), cores)
    setup = next(r for r in records if r["type"] == "setup")
    end = next(r for r in records if r["type"] == "end")
    ops = [r for r in records if r["type"] == "op"]
    attempted, failed, latencies, mismatches = metrics.account(ops, expected)
    if not latencies:
        latencies = [end["wall_s"]]

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cores, "heap_max_mb": setup["heap_max_mb"], "spark_conf": setup["spark_conf"],
        "git_commit": git_commit(), "source_sha256": source_digest(),
        "fixture_dir": str(BASE.relative_to(ROOT)),
        "clients": cores if a.workload == "serve_mixed" else 1,
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "latency_samples": len(latencies), "mismatches": mismatches[:20], "setup": setup,
        "op_s": [[o["cls"], o["param"], o["end_s"] - o["start_s"]] for o in ops],
    }
    if a.trace:
        m = per_layer(a.workload, setup, end, ops, attempted, failed, gen_s,
                      statistics.median(walls[a.workload]))
        if a.workload != "serve_mixed":
            record["job_counts"] = update_job_ledger(a.workload, ops)
        op_time = sum(o["end_s"] - o["start_s"] for o in ops)
        record["checks"] = {
            "op_time_over_wall_x_clients": op_time / (end["wall_s"] * record["clients"]),
            "plans_share_of_op_time": (m["plans.analysis_s"][0] + m["plans.optimization_s"][0]
                                       + m["plans.planning_s"][0]) / op_time,
        }
        record["ops"] = ops
        (WORK / "traces").mkdir(parents=True, exist_ok=True)
        (WORK / "traces" / f"{a.workload}-seed{a.seed}.jsonl").write_text(
            "".join(json.dumps(s) + "\n" for s in spans))
    else:
        m = end_to_end(setup, end, latencies)
        walls.setdefault(a.workload, []).append(end["wall_s"])
        walls[a.workload] = walls[a.workload][-20:]
        ledger_path.write_text(json.dumps(walls))
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(record, indent=1))
    print(json.dumps({k: record[k] for k in ("workload", "seed", "nproc", "attempted", "failed")}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))


if __name__ == "__main__":
    main()
