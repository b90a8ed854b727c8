#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads through the engine's
public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --pin        # re-pin the query oracle hashes

Workloads (see BENCHMARK.json and perfbench/README.md):
  ingest_small_chunks  four concurrent clients, ~10-record byte-budget chunks
  query_mix            seven analytics queries in a seed-shuffled order

Run from the repository root. The first run builds the engine and the
workload runner with sbt (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. Inputs, logs and build outputs live in
perfbench/.work. The last stdout line is the JSON result; the lines before
it name every end-to-end figure with its unit. Exit code 0 only when every
correctness gate passed.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import stats  # noqa: E402

QUERIES = ["q207_neighborhood", "q226_hits", "q277_harmonic_centrality",
           "q278_chrf", "q232_pca_power", "q115_gap_fill", "q234_spearman"]

SMALL_CHUNK_BYTES = 4100   # about 10 records of the generated shape
# clients: closed-loop clients, each submitting one file per round; query_mix
# ingests only its warm-up file, in traced runs
WORKLOADS = {
    "ingest_small_chunks": {"clients": 4, "records": 3000},
    "query_mix": {"clients": 1},
}
WARM_RECORDS = 3000
# A query_mix set-up is a full warm-up pass (~30 s): it runs once, and the
# time more set-ups would take goes into measured passes instead.
# The first ingestion set-up also loads and JIT-compiles the JVM's own
# classes; it is run but left out of setup_s.
SETUP_REPS = {"ingest_small_chunks": 4, "query_mix": 1}
MIN_ROUNDS = 2
# Spark gets every CPU, up to the four the workloads were sized on. Leaving
# one to the in-process receiver and clients makes ingestion slower and no
# steadier (perfbench/README.md).
CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"
# A round (or set-up) during which the hypervisor stole more than this share
# of the machine's CPU time is disturbed: the figures come from the other
# rounds, and the run measures longer while too few are quiet.
QUIET_STEAL = 0.05

E2E = [("setup_s", "s"), ("round_s", "s"), ("op_geomean_s", "s"),
       ("first_step_s", "s"), ("step_gap_p50_ms", "ms"), ("heap_live_peak_mb", "MB")]

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Fatal(Exception):
    pass


# ---- build ------------------------------------------------------------------

def _source_files():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def build():
    """Compile engine + workload runner with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise Fatal(f"no engine sources: {need} is missing from the checkout")
    h = hashlib.sha256()
    for f in sorted(_source_files()):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cpfile = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    if os.path.exists(stamp) and os.path.exists(cpfile) and open(stamp).read() == digest:
        return open(cpfile).read()
    log("building engine and workload runner with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logf = os.path.join(bdir, "sbt.log")
    with open(logf, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                             "export perfbench/Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = [ln.strip() for ln in open(logf) if ln.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        raise Fatal(f"sbt build failed (rc={rc}); see {logf}")
    with open(cpfile, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def java(cp, args, logf, timeout):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dgraft.log.dir={os.path.join(WORK, 'logs')}", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    with open(logf, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            raise Fatal(f"the workload JVM ran past {timeout:.0f} s; see {logf}")
    if rc != 0:
        raise Fatal(f"the workload JVM exited with {rc}; see {logf}")


# ---- inputs -------------------------------------------------------------------

def derived_seed(*parts):
    return int.from_bytes(hashlib.sha256(":".join(map(str, parts)).encode()).digest()[:8], "big")


def make_inputs(workload, seed, idir):
    """The clients' files and one warm-up file per client. Every file has
    its own seed: the engine derives an ingestion's id from its file and
    the millisecond it starts, so two clients must never submit one file
    at once."""
    import gen
    shutil.rmtree(idir, ignore_errors=True)
    os.makedirs(idir)

    def write(name, records):
        path = os.path.join(idir, name)
        sha = gen.write_ingest_file(path, derived_seed(workload, seed, name), records)
        return {"file": path, "records": records, "sha256": sha}

    n = WORKLOADS[workload]["clients"]
    clients = [] if workload == "query_mix" else [
        write(f"client{k}.json", WORKLOADS[workload]["records"]) for k in range(n)]
    return clients, [write(f"warm{k}.json", WARM_RECORDS) for k in range(n)]


def load_pins():
    with open(os.path.join(HERE, "oracle_pins.json")) as f:
        return json.load(f)


def corpus_dir(pins):
    """The fixed query corpus, regenerated when missing or not matching the
    pinned file hashes."""
    import gen
    d = os.path.join(WORK, "corpus")

    def digests():
        out = {}
        for name in pins["corpus"]:
            p = os.path.join(d, name)
            if os.path.exists(p):
                with open(p, "rb") as f:
                    out[name] = hashlib.sha256(f.read()).hexdigest()
        return out

    if digests() != pins["corpus"]:
        got = gen.write_corpus(d)
        if got != pins["corpus"]:
            raise Fatal("the generated query corpus does not match oracle_pins.json")
    return d


def result_hash(qdir):
    """Hash a written query result the way tools/selfcheck.py compares it:
    columns sorted by name, every value rendered as a string, row order
    as written."""
    import glob
    import pandas as pd
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return None, 0
    df = pd.concat([pd.read_parquet(f) for f in files])
    return frame_hash(df)


def frame_hash(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str).reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False).encode("utf-8")).hexdigest(), len(df)


# ---- metrics ------------------------------------------------------------------

def ms(us):
    return us / 1000.0


def describe(xs):
    """Sample count plus the highest percentile with >= 10 samples beyond it."""
    tail = stats.tail_percentile(xs)
    if not tail:
        return f"median of {len(xs)}; no percentile has 10 samples beyond it"
    p, v = tail
    return f"median of {len(xs)}; p{p:g} = {v:.6g} with {stats.beyond(len(xs), p)} beyond it"


def rounds_of(ops):
    """Closed-loop rounds: {round: [operations]}."""
    out = {}
    for o in ops:
        out.setdefault(o["round"], []).append(o)
    return out


def round_span_s(ops):
    return (max(o["end_us"] for o in ops) - min(o["start_us"] for o in ops)) / 1e6


def undisturbed(items, steal):
    """The set-ups or rounds undisturbed by steal, and a note saying what
    was left out."""
    kept, out = stats.undisturbed(items, steal, QUIET_STEAL)
    worst = max(steal, default=0.0)
    if out == 0 and worst > QUIET_STEAL:
        return kept, f"all {len(kept)} disturbed by steal (up to {worst:.1%}), none left out"
    return kept, f"{out} of {len(items)} left out for steal above {QUIET_STEAL:.0%} (up to {worst:.1%})"


def end_to_end(raw, workload):
    """The gated end-to-end metrics, and the report lines that also give
    the workload's own figures."""
    setups, setup_steal = raw["setup_s"], raw["setup_steal"]
    if workload != "query_mix":  # the first set-up also warms the JVM itself
        setups, setup_steal = setups[1:], setup_steal[1:]
    setups, s_noted = undisturbed(setups, setup_steal)
    kept, r_noted = undisturbed(range(1, len(raw["round_steal"]) + 1), raw["round_steal"])
    meas = [o for o in raw["ops"] if o["phase"] == "measure" and o["round"] in kept]
    round_s, geo, recs_s = [], [], []
    for ops in rounds_of(meas).values():
        durs = [(o["end_us"] - o["start_us"]) / 1e6 for o in ops]
        round_s.append(sum(durs) if workload == "query_mix" else round_span_s(ops))
        geo.append(stats.geomean(durs))
        if workload != "query_mix":
            recs_s.append(sum(o["records"] for o in ops) / round_s[-1])
    # an operation without a step has failed its gate
    first = [(o["steps_us"][0] - o["start_us"]) / 1e6 for o in meas if o["steps_us"]]
    gaps = [ms(b - a) for o in meas for a, b in zip(o["steps_us"], o["steps_us"][1:])]
    m = {
        "setup_s": stats.median(setups),
        "round_s": stats.median(round_s),
        "op_geomean_s": stats.median(geo),
        "first_step_s": stats.median(first),
        "step_gap_p50_ms": stats.median(gaps),
        "heap_live_peak_mb": raw["heap_live_peak_mb"],
    }
    lines = [("setup_s", m["setup_s"], "s", f"set-ups, {describe(setups)}; {s_noted}")]
    if workload == "query_mix":
        lines += [("query_total_s", m["round_s"], "s", f"passes, {describe(round_s)}; {r_noted}"),
                  ("query_geomean_s", m["op_geomean_s"], "s", f"passes, {describe(geo)}"),
                  ("first_job_s", m["first_step_s"], "s", f"queries, {describe(first)}"),
                  ("job_gap_p50_ms", m["step_gap_p50_ms"], "ms", f"gaps, {describe(gaps)}")]
    else:
        lines += [("records_per_s", stats.median(recs_s), "records/s", f"rounds, {describe(recs_s)}"),
                  ("first_chunk_s", m["first_step_s"], "s", f"ingestions, {describe(first)}"),
                  ("chunk_gap_p50_ms", m["step_gap_p50_ms"], "ms", f"gaps, {describe(gaps)}")]
        if len(gaps) >= 1000:
            lines.append(("chunk_gap_p99_ms", stats.percentile(gaps, 99), "ms",
                          f"p99 of {len(gaps)} gaps, {stats.beyond(len(gaps), 99)} beyond it"))
        lines.append(("round_s", m["round_s"], "s", f"rounds, {describe(round_s)}; {r_noted}"))
    lines.append(("heap_live_peak_mb", m["heap_live_peak_mb"], "MB",
                  f"highest heap after the full GC closing each of {len(raw['round_steal'])} rounds"))
    return m, lines


def per_layer(raw):
    t = raw["trace"]
    spans = t["spans"]
    lat = {k: [ms(v) for v in vs] for k, vs in t["samples"]["latency_us"].items()}
    cnt = t["samples"]["counts"]
    groups = t["groups"]

    def span_s(name):
        return sum(s["end_us"] - s["start_us"] for s in spans if s["name"] == name) / 1e6

    def p(name, q):
        return stats.percentile(lat[name], q) if lat.get(name) else 0.0

    def jobs(group):
        return [(a, b) for a, b in groups.get(group, {}).get("jobs", []) if b >= a]

    roots = [s for s in spans if s["parent"] < 0 and s["name"] == "ingestion"]
    root_us = sum(s["end_us"] - s["start_us"] for s in roots)
    child_us = sum(s["end_us"] - s["start_us"] for s in spans
                   if s["parent"] in {r["id"] for r in roots})
    deliver = [s for s in spans if s["name"] == "ingest.deliver"]
    m = {
        "api.accept_ms": p("api.accept", 50),
        "sources.scan_s": span_s("sources.scan"),
        "chunk.rownum_s": span_s("chunk.rownum"),
        "chunk.pack_s": span_s("chunk.pack"),
        "canon.render_s": span_s("canon.render"),
        "canon.bytes": cnt.get("canon.bytes", 0),
        "ingest.build_chunks_s": span_s("ingest.build_chunks"),
        "ingest.chunks": cnt.get("ingest.chunks", 0),
        "ingest.deliver_s": span_s("ingest.deliver"),
        "ingest.deliver_jobs": sum(len(jobs(f"deliver/{s['trace']}")) for s in deliver),
        "ingest.driver_gap_s": sum(stats.uncovered((s["start_us"], s["end_us"]),
                                                   jobs(f"deliver/{s['trace']}"))
                                   for s in deliver) / 1e6,
        "sink.body_build_p50_ms": p("sink.body_build", 50),
        "sink.post_ack_p50_ms": p("sink.post_ack", 50),
        "sink.post_ack_p99_ms": p("sink.post_ack", 99),
        "sink.retries": cnt.get("sink.retries", 0),
        "receiver.handle_p50_ms": p("receiver.handle", 50),
        "receiver.bytes": t["receiver_bytes"],
        "receiver.nacks": t["receiver_nacks"],
        "state.commit_p50_ms": p("state.commit", 50),
        "state.commits": cnt.get("state.commits", 0),
        "trace.coverage": child_us / root_us if root_us else 0.0,
    }
    # the traced end-to-end round, to set against the untraced round_s
    if raw["workload"] == "query_mix":  # the traced passes
        m["trace.round_s"] = stats.median(
            [sum(o["end_us"] - o["start_us"] for o in ops) / 1e6 for ops in rounds_of(
                [o for o in raw["ops"] if o["phase"] == "trace"]).values()])
    else:
        m["trace.round_s"] = stats.median(
            [round_span_s(ops) for ops in rounds_of(
                [o for o in raw["ops"] if o["phase"] == "trace-round"]).values()])
    last = max(o["round"] for o in raw["ops"] if o["phase"] == "trace")
    traced = [o for o in raw["ops"] if o["phase"] == "trace" and o["round"] == last]
    for o in traced:
        q, g = o["name"], groups.get(o["group"], {})
        wall = o["end_us"] - o["start_us"]
        m[f"query.{q}_s"] = wall / 1e6
        longest = max(g.get("stage_times", []), key=lambda s: s["duration_ms"], default=None)
        skew = 0.0
        if longest and longest["task_ms"]:
            med = stats.median(longest["task_ms"])
            skew = max(longest["task_ms"]) / med if med > 0 else 1.0
        m[f"spark.{q}.jobs"] = len(g.get("jobs", []))
        m[f"spark.{q}.stages"] = g.get("stages", 0)
        m[f"spark.{q}.tasks"] = g.get("tasks", 0)
        m[f"spark.{q}.driver_gap_s"] = stats.uncovered((o["start_us"], o["end_us"]),
                                                       jobs(o["group"])) / 1e6
        m[f"spark.{q}.exec_busy_s"] = g.get("exec_run_ms", 0) / 1000.0
        m[f"spark.{q}.shuffle_mb"] = g.get("shuffle_bytes", 0) / 2 ** 20
        m[f"spark.{q}.spill_mb"] = g.get("spill_bytes", 0) / 2 ** 20
        m[f"spark.{q}.skew"] = skew
    m["lifecycle.blocks_retained"] = sum(o["retained"] for o in traced)
    m["edgepin.build_s"] = raw["edgepin_build_s"]
    m["codegen.fallbacks"] = raw["codegen_fallbacks"]
    return m


# ---- gates ----------------------------------------------------------------------

def check(raw, pins, results_dir):
    """Mark every operation that failed a gate; returns (attempted, failed,
    problems)."""
    problems = list(raw["errors"])
    hashes = {}
    for o in raw["ops"]:
        if o["kind"] != "query":
            continue
        pin = pins["queries"][o["name"]]
        if o["written"]:
            if o["name"] not in hashes:
                hashes[o["name"]] = result_hash(os.path.join(results_dir, o["name"]))
            h, n = hashes[o["name"]]
            if h != pin["sha256"]:
                o["ok"] = False
                o["detail"] += f"; result hash {h} ({n} rows) != pinned oracle {pin['sha256']} ({pin['rows']} rows)"
        elif o["rows"] != pin["rows"]:
            o["ok"] = False
            o["detail"] += f"; {o['rows']} rows, oracle has {pin['rows']}"
    bad = [o for o in raw["ops"] if not o["ok"]]
    for o in bad:
        problems.append(f"{o['phase']} {o['kind']} {o['name']}: {o['detail'].strip('; ')}")
    return len(raw["ops"]) + len(raw["errors"]), len(bad) + len(raw["errors"]), problems


def self_test():
    import test_stats
    suite = unittest.defaultTestLoader.loadTestsFromModule(test_stats)
    res = unittest.TextTestRunner(stream=open(os.devnull, "w")).run(suite)
    if not res.wasSuccessful():
        raise Fatal("the benchmark's arithmetic self-tests failed: "
                    + "; ".join(str(t) for t, _ in res.failures + res.errors))


# ---- entry points ------------------------------------------------------------------

def run(args):
    self_test()
    cp = build()
    t_start = time.time()  # a run must end 180 s after the build
    pins = load_pins()
    wdir = os.path.join(WORK, "run")
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    clients, warm = make_inputs(args.workload, args.seed, os.path.join(WORK, "inputs"))
    order = list(QUERIES)
    random.Random(derived_seed("query_mix", args.seed)).shuffle(order)
    need_corpus = args.workload == "query_mix" or args.trace
    results_dir = os.path.join(wdir, "results")
    manifest = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "cores": CORES, "setup_reps": SETUP_REPS[args.workload],
        "min_rounds": MIN_ROUNDS, "quiet_steal": QUIET_STEAL, "work_dir": wdir,
        "clients": clients, "warm": warm,
        "chunk_bytes": SMALL_CHUNK_BYTES,
        "corpus": corpus_dir(pins) if need_corpus else "",
        "queries": order, "results_dir": results_dir,
    }
    mpath, rpath = os.path.join(wdir, "manifest.json"), os.path.join(wdir, "raw.json")
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    java(cp, [mpath, rpath], os.path.join(wdir, "jvm.log"), 170 - (time.time() - t_start))
    with open(rpath) as f:
        raw = json.load(f)
    attempted, failed, problems = check(raw, pins, results_dir)

    out = sys.stdout
    print(f"workload {args.workload}: seed {args.seed}, {len(clients) or 1} closed-loop "
          f"client(s), {CORES} cores, trace {args.trace}", file=out)
    for c in clients + warm:
        print(f"input {os.path.basename(c['file'])}: {c['records']} records, sha256 {c['sha256']}",
              file=out)
    if args.workload == "query_mix":
        print(f"query order: {' '.join(order)}", file=out)
    metrics, units = {}, {}
    try:
        if args.trace:
            metrics, units = per_layer(raw), layer_units()
            for k, v in metrics.items():
                print(f"layer {k} = {v:.6g} {units.get(k, '')}", file=out)
        else:
            (metrics, lines), units = end_to_end(raw, args.workload), dict(E2E)
            for name, v, unit, note in lines:
                print(f"metric {name} = {v:.6g} {unit} ({note})", file=out)
    except (ValueError, KeyError, IndexError):
        if not problems:
            raise
        metrics = {}  # failed operations left too few samples; the gates say why
    share = failed / attempted if attempted else 0.0
    print(f"metric failed_share = {share:.6g} ratio ({failed} of {attempted} operations)", file=out)
    for p in problems:
        print(f"GATE FAILED: {p}", file=out)
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()}}
    print(json.dumps(result), file=out, flush=True)
    return 0 if not problems else 1


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def pin():
    """Regenerate the query corpus and pin each query's DuckDB-oracle
    result hash and row count into oracle_pins.json."""
    import duckdb
    import gen
    cp = build()
    d = os.path.join(WORK, "corpus")
    digests = gen.write_corpus(d)
    sql_file = os.path.join(WORK, "oracle_sql.json")
    java(cp, ["--oracle-sql", sql_file] + QUERIES, os.path.join(WORK, "pin.log"), 300)
    with open(sql_file) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for name in digests:
        t = name[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(d, name)}')")
    queries = {}
    for q in QUERIES:
        h, n = frame_hash(con.sql(sqls[q]).df())
        queries[q] = {"rows": n, "sha256": h}
        log(f"pinned {q}: {n} rows")
    with open(os.path.join(HERE, "oracle_pins.json"), "w") as f:
        json.dump({"corpus": digests, "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    try:
        if args.pin:
            pin()
            return 0
        if not args.workload:
            ap.error("--workload is required")
        return run(args)
    except Fatal as e:
        log(str(e))
        return 2


if __name__ == "__main__":
    sys.exit(main())
