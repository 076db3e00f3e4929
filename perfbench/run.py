#!/usr/bin/env python3
"""Benchmark of the graft engine: bulk-load generation and warehouse
queries, each run as a pipeline user runs it.

    python3 perfbench/run.py --workload bulkload|warehouse \\
        --seed N --seconds S --trace 0|1 [--smoke]
    python3 perfbench/run.py --record [--smoke]

Run from the repository root. The first run builds the program with the
repository's own sbt build and then this harness (perfbench/build.sbt);
later runs reuse both until a source file changes. One JVM runs
`local[N]` (N = min(4, CPUs)) with one client in a closed loop: a cold
pass, untimed warm-up passes, then timed passes for `--seconds`. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics of a separate traced half with
`--trace 1` (spans go to perfbench/out/). Every operation's output is
checked; see perfbench/README.md for workloads, metrics and the layer map.

`--record` runs each query twice, records its digest in
perfbench/expected.json, and cross-checks every query that has oracle SQL
against DuckDB the way tools/check_oracle.py does.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DEADLINE_S = 170  # a run must end within 180 s

# the flagship 7-column spec is 10M rows in the paper's run; 500k keeps a
# bulk-load pass near one second on four cores
BULK_ROWS = {False: 500_000, True: 100_000}
DATA = {False: "sf0.01", True: "sf0.001"}
SETUPS = 2  # set-up is timed this many times per run; the median is reported

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]


def spec():
    """BENCHMARK.json: the workloads and each metric's unit."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"no BENCHMARK.json at {ROOT}: run from the repository root")
    with open(path) as fh:
        return json.load(fh)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sbt(cwd, *tasks):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks], cwd=cwd, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(p.stdout[-4000:])
    if p.returncode != 0:
        fail(f"sbt {' '.join(tasks)} failed in {cwd}")
    return p.stdout


def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Compiles the program and the harness; returns the harness classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: run from a full checkout of the repository")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building the program and the harness")
    sbt(ROOT, "compile")
    out = sbt(HERE, "compile", "export Runtime/fullClasspath")
    cp = [ln for ln in out.splitlines() if ln.startswith("/")][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


class Jvm:
    """One harness JVM: times its set-up to `PB READY` and collects its
    `PB <tag> <json>` line. Killed if the run would overstay its deadline.
    """

    def __init__(self, cp, deadline, **args):
        scratch = args["scratch"]
        cmd = ["java", *JVM_OPTS, "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"), "-cp", cp,
               "perfbench.Main", *[f"{k}={v}" for k, v in args.items()]]
        self.t0 = time.perf_counter()
        self.p = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, text=True)
        self.timer = threading.Timer(max(1.0, deadline - time.monotonic()), self.p.kill)
        self.timer.start()
        self.setup_s, self.out = None, {}
        try:
            for line in self.p.stdout:
                line = line.rstrip("\n")
                if line == "PB READY":
                    self.setup_s = time.perf_counter() - self.t0
                    if args["mode"] == "setup":
                        break
                elif line.startswith("PB "):
                    tag, body = line[3:].split(" ", 1)
                    self.out[tag] = json.loads(body)
        finally:
            if args["mode"] == "setup" or sys.exc_info()[0]:
                self.p.kill()
            self.code = self.p.wait()
            self.timer.cancel()
        if args["mode"] == "setup" and self.setup_s is not None:
            self.code = 0
        if self.code != 0 or self.setup_s is None:
            fail(f"harness JVM exited with {self.code}", 3)


def expected_digests(smoke):
    path = os.path.join(HERE, "expected.json")
    table = json.load(open(path)).get(DATA[smoke], {}) if os.path.exists(path) else {}
    return ",".join(f"{k}={v}" for k, v in sorted(table.items()))


def run(a, cp, scratch, deadline):
    common = dict(cores=min(4, len(os.sched_getaffinity(0))), scratch=scratch)
    setups = [Jvm(cp, deadline, mode="setup", **common).setup_s for _ in range(SETUPS - 1)]
    spans = os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-spans.jsonl")
    if a.trace:
        os.makedirs(os.path.dirname(spans), exist_ok=True)
    jvm = Jvm(cp, deadline, mode="run", workload=a.workload, seed=a.seed, seconds=a.seconds,
              trace=int(a.trace), data=os.path.join(HERE, "data", DATA[a.smoke]), rows=BULK_ROWS[a.smoke],
              smoke=int(a.smoke), expected=expected_digests(a.smoke), spans=spans, **common)
    r = jvm.out["RESULT"]
    setups.append(jvm.setup_s)
    r["setup_s"] = statistics.median(setups)
    log(f"{a.workload}: set-up {', '.join(f'{s:.3f}' for s in setups)} s, "
        f"warm-up passes {r['warmup_passes']}, timed passes {r['passes']}")
    values = r["per_layer"] if a.trace else r
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in a.spec["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


def record(a, cp, scratch, deadline):
    """Records each query's digest and cross-checks it against DuckDB."""
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)
    import duckdb
    data = os.path.join(HERE, "data", DATA[a.smoke])
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    digests, bad = {}, []
    out = os.path.join(scratch, "record")
    got = Jvm(cp, deadline, mode="record", workload="warehouse", seed=a.seed, seconds=0, trace=0, data=data,
              rows=0, cores=min(4, len(os.sched_getaffinity(0))), scratch=scratch, out=out).out["RECORD"]
    for name, r in sorted(got.items()):
        verdict = "stable" if r["stable"] else "UNSTABLE"
        if not r["stable"]:
            bad.append(name)
        if r["oracle"]:
            s = oracle.table_hash(*oracle.canon(oracle.read_spark(os.path.join(out, name))))
            o = oracle.table_hash(*oracle.canon(con.sql(r["oracle"]).df()))
            verdict += ", DuckDB " + ("PASS" if s == o else "FAIL")
            if s != o:
                bad.append(name)
        else:
            verdict += ", no oracle SQL"
        log(f"{name}: {r['digest']} ({verdict})")
        digests[name] = r["digest"]
    if bad:
        fail(f"not recorded, failed checks: {', '.join(bad)}", 1)
    path = os.path.join(HERE, "expected.json")
    table = json.load(open(path)) if os.path.exists(path) else {}
    table[DATA[a.smoke]] = digests
    with open(path, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"recorded {len(digests)} digests for {DATA[a.smoke]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 tables and 100k bulk-load rows")
    ap.add_argument("--record", action="store_true", help="record expected digests")
    a = ap.parse_args()
    a.spec = spec()
    if not a.record and a.workload not in [w["name"] for w in a.spec["workloads"]]:
        ap.error("--workload must name a workload of BENCHMARK.json")
    cp = build()
    deadline = time.monotonic() + DEADLINE_S
    scratch = os.path.join(HERE, ".run", f"{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        (record if a.record else run)(a, cp, scratch, deadline)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
