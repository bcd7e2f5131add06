#!/usr/bin/env python3
"""Pipeline benchmark: HTTP ingest -> micro-batch merge -> enrichment
write-back, plus a query mix, driven from outside the engine and measured
end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke        # every workload for a few seconds

Run it from the repository root. The first run builds the engine and the
benchmark programs with sbt into the checkout; later runs reuse the build
while the sources are unchanged. Each run works in a fresh directory under
perfbench/.work/, checks every output outside the timed window, and prints
the metrics by name with their units; the last line of stdout is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. With --trace 1
the run also records spans and writes them, with the per-layer self times,
under perfbench/.work/trace/.
"""
import argparse
import collections
import csv
import glob
import hashlib
import json
import os
import shutil
import socket
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
CPUS = 4
# Preloaded keys: the customer count of the sf0.1 data set.
KEYS = 15000
# Open-loop offered rate of ingest_steady, records/s. The knee on a 4-core
# box is the ack path: ~85 rec/s on 4 connections once acks pay the ~40 ms
# delayed-ACK wait; at 100 rec/s the backlog of unacked requests grows.
STEADY_RATE = 50
# Rows that may await commit before ingest_flood's edge answers 503. It sits
# below the ~200-400-row backlog a merge-on-read commit of ~2 s leaves at
# the ack path's ceiling, so backpressure ties the ack rate to the commit
# rate and a slower commit shows in throughput.
FLOOD_MAX_BUFFERED = 128
# Set-up repetitions per run; setup_s reports their median.
SETUP_REPS = 3
# The generator is late when an idle thread wakes this much after a due
# time (p99); such a run measured the generator, not the system.
GEN_LATE_LIMIT_MS = 20.0

WORKLOADS = {
    "ingest_steady": {"update_share": 0.8},
    "ingest_flood": {"update_share": 0.05},
    "enrich_writeback": {},
    "query_mix": {},
}
# query_mix's tables, at the sf0.01 sizes of the engine's test data
QM_CUSTOMERS, QM_SUPPLIERS = 1500, 100

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class RunError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala",
            "src/main/**/*.java", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/**/*.scala",
            "perfbench/*.py"]
    files = set()
    for p in pats:
        files.update(glob.glob(os.path.join(ROOT, p), recursive=True))
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles the engine and the benchmark programs; returns the runtime
    classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise RunError("run from the repository root: build.sbt and src/main/scala "
                       "are needed to build the engine")
    stamp = source_hash()
    bdir = os.path.join(WORK, "build")
    # the hash of the sources the classes under target/ were built from,
    # then the classpath
    cp_file = os.path.join(bdir, "classpath")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            built, cp = (f.read().split("\n") + [""])[:2]
        if built == stamp:
            return cp
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    # the build resolves nothing remotely: every jar comes from local caches
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine and benchmark programs with sbt ...")
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=880)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise RunError("sbt build failed; see " + os.path.join(bdir, "sbt.log"))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    log("build done in %.0f s" % (time.time() - t0))
    return cp


# ---- inputs ----------------------------------------------------------------

def make_inputs(data, seed, workload):
    """Writes the workload's input tables; a pure function of the seed."""
    import duckdb
    os.makedirs(data)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    if workload == "query_mix":
        make_query_tables(con, data, int(seed))
        con.close()
        return
    con.execute(f"""
        COPY (
          SELECT i::BIGINT AS id, 'e' || i AS name, (i % 30)::INTEGER AS yearsofexp,
                 (30000 + hash(i * 1000003 + {int(seed)}) % 100000)::BIGINT AS salary,
                 -1::BIGINT AS gseq, 0::BIGINT AS due_us
          FROM range({KEYS}) t(i) ORDER BY i
        ) TO '{data}/employees.parquet' (FORMAT PARQUET)""")
    con.close()


def make_query_tables(con, data, seed):
    """customer and supplier with the columns and types of the engine's
    test data, for the gates query_mix runs."""
    def h(salt, mod):
        return f"(hash(i, {seed}, {salt}) % {mod})"
    segs = "['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']"
    tables = {
        "customer": f"""SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                {h(1, 25)}::INTEGER AS c_nationkey,
                (({h(2, 1100000)})::BIGINT - 100000) / 100.0 AS c_acctbal,
                {segs}[{h(3, 5)}::INTEGER + 1] AS c_mktsegment
            FROM range({QM_CUSTOMERS}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                {h(4, 25)}::INTEGER AS s_nationkey,
                (({h(5, 1100000)})::BIGINT - 100000) / 100.0 AS s_acctbal
            FROM range({QM_SUPPLIERS}) t(i)""",
    }
    for name, sql in tables.items():
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{data}/{name}.parquet' (FORMAT PARQUET)")


def free_ports(n):
    socks, ports = [], []
    for _ in range(n):
        s = socket.socket()
        s.bind(("127.0.0.1", 0))
        socks.append(s)
        ports.append(s.getsockname()[1])
    for s in socks:
        s.close()
    return ports


# ---- processes -------------------------------------------------------------

class Proc:
    """A child process whose stdout lines are read on a thread."""

    def __init__(self, argv, cwd, env=None, stderr_path=None):
        self.err = open(stderr_path, "w") if stderr_path else subprocess.DEVNULL
        self.p = subprocess.Popen(argv, cwd=cwd, env=env, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.err, text=True)
        self.lines = []
        self.cv = threading.Condition()
        self.t = threading.Thread(target=self._read, daemon=True)
        self.t.start()

    def _read(self):
        for line in self.p.stdout:
            with self.cv:
                self.lines.append(line.rstrip("\n"))
                self.cv.notify_all()
        with self.cv:
            self.cv.notify_all()

    def wait_line(self, pred, timeout):
        end = time.time() + timeout
        with self.cv:
            while True:
                for l in self.lines:
                    if pred(l):
                        return l
                if self.p.poll() is not None and not self.t.is_alive():
                    raise RunError("process exited with %s before the expected output"
                                   % self.p.returncode)
                left = end - time.time()
                if left <= 0:
                    raise RunError("timed out waiting for process output")
                self.cv.wait(min(left, 0.5))

    def send(self, text):
        self.p.stdin.write(text)
        self.p.stdin.flush()

    def finish(self, timeout):
        try:
            self.p.stdin.close()
        except OSError:
            pass
        try:
            self.p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
            raise RunError("process did not exit in time")
        self.t.join(5)
        if self.err is not subprocess.DEVNULL:
            self.err.close()
        return self.p.returncode

    def kill(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()


def java_argv(cp, main, heap, args, tmp, young="64m"):
    """One JVM setting for every workload, and for the generator too.

    - The engine's default collector (G1), with the heap capped at `heap`
      to keep the benchmark small and not pre-touched, so memory follows
      what the engine allocates. The bounded memory metric is the live
      heap after collections: the resident peak (VmHWM) stays bimodal
      across seeds, e.g. 640 or 860 MB for enrich_writeback on one build.
    - A fixed young generation: with G1 sizing it adaptively the resident
      peak of one workload spread by a sixth to a third across seeds.
    - C1 only. With tiered C2 the runs spread across seeds no less than
      with C1 at the same window, and each took about 6 s longer in JIT
      work, which the run budget cannot spare; C1 code is at its steady
      speed once set-up ends. The price: a change whose gain comes only
      from C2's optimisations reads smaller here.
    - No hsperfdata file: a run writes nothing outside its checkout.
    """
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    flat = [x for k, v in args.items() for x in ("--" + k, str(v))]
    return (["java"] + opens + ["-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
                                "-Xmx" + heap, "-Xmn" + young, "-Xss4m",
                                "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
                                "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main]
            + flat)


def sut_argv(cp, args, tmp):
    return java_argv(cp, "perfbench.Sut", "2g", args, tmp, "256m")


def gen_classpath(cp):
    keep = [e for e in cp.split(":") if "perfbench" in e or "scala-library" in e]
    return ":".join(keep)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def read_csv(path):
    with open(path) as f:
        return list(csv.DictReader(f))


# ---- one run ---------------------------------------------------------------

def run_once(cp, workload, seed, seconds, trace, rundir):
    data = os.path.join(rundir, "data")
    tmp = os.path.join(rundir, "tmp")
    wal = os.path.join(rundir, "wal")
    os.makedirs(tmp)
    os.makedirs(wal)
    make_inputs(data, seed, workload)
    env = dict(os.environ, GRAFT_WAL_DIR=wal)
    sut_args = {"workload": workload, "dir": rundir, "data": data,
                "seconds": seconds, "trace": trace, "cpus": CPUS,
                "setup_reps": SETUP_REPS}
    procs = []
    gen_out = {}
    phases = {"start": time.time()}
    try:
        if workload.startswith("ingest_"):
            sut_args["ports"] = ",".join(map(str, free_ports(SETUP_REPS)))
            sut_args["max_buffered"] = FLOOD_MAX_BUFFERED
            sut = Proc(sut_argv(cp, sut_args, tmp), rundir, env,
                       os.path.join(rundir, "sut.log"))
            procs.append(sut)
            ready = sut.wait_line(lambda l: l.startswith("@@ready"), 150)
            phases["ready"] = time.time()
            port = ready.split("port=")[1]
            gen_args = {"mode": "flood" if workload == "ingest_flood" else "steady",
                        "port": port, "seed": seed, "seconds": seconds, "keys": KEYS,
                        "rate": STEADY_RATE,
                        "update_share": WORKLOADS[workload]["update_share"],
                        "out": os.path.join(rundir, "gen.csv")}
            gen = Proc(java_argv(gen_classpath(cp), "perfbench.Gen", "256m", gen_args, tmp),
                       rundir, env, os.path.join(rundir, "gen.log"))
            procs.append(gen)
            line = gen.wait_line(lambda l: l.startswith("{"), seconds + 60)
            gen.finish(10)
            gen_out = json.loads(line)
            if gen_out.get("error"):
                raise RunError("generator failed: " + gen_out["error"])
            sut.send("drain\n")
        elif workload == "query_mix":
            sut = Proc(sut_argv(cp, sut_args, tmp), rundir, env,
                       os.path.join(rundir, "sut.log"))
            procs.append(sut)
            sut.wait_line(lambda l: l.startswith("@@ready"), 150)
            phases["ready"] = time.time()
            sut.send("go\n")
        else:
            tport = free_ports(1)[0]
            gen = Proc(java_argv(gen_classpath(cp), "perfbench.Gen", "256m",
                                 {"mode": "transform", "port": tport}, tmp),
                       rundir, env, os.path.join(rundir, "gen.log"))
            procs.append(gen)
            gen.wait_line(lambda l: l.startswith('{"ready"'), 30)
            sut_args["transform_port"] = tport
            sut = Proc(sut_argv(cp, sut_args, tmp), rundir, env,
                       os.path.join(rundir, "sut.log"))
            procs.append(sut)
            sut.wait_line(lambda l: l.startswith("@@ready"), 150)
            phases["ready"] = time.time()
            gen.send("snapshot\n")
            snap = json.loads(gen.wait_line(lambda l: l.startswith('{"calls"'), 10))
            sut.send("go\n")
        sut.wait_line(lambda l: l == "@@done", seconds + 120)
        phases["done"] = time.time()
        if sut.finish(30) != 0:
            raise RunError("system under test exited with an error")
        if workload == "enrich_writeback":
            gen.finish(10)
            final = json.loads([l for l in gen.lines if l.startswith('{"calls"')][-1])
            gen_out = {k: final[k] - snap[k] for k in ("calls", "busy_ms", "cpu_s")}
            gen_out["late_ms_p99"] = 0.0
    except BaseException:
        for p in procs:
            p.kill()
        tail = ""
        log_path = os.path.join(rundir, "sut.log")
        if os.path.exists(log_path):
            with open(log_path) as f:
                tail = "".join(f.readlines()[-30:])
        log(tail)
        raise
    with open(os.path.join(rundir, "sut.json")) as f:
        sut_out = json.load(f)
    phases["exit"] = time.time()
    log("phases: to ready %.1f s, ready to done %.1f s, exit %.1f s" % (
        phases["ready"] - phases["start"], phases["done"] - phases["ready"],
        phases["exit"] - phases["done"]))
    return sut_out, gen_out


# ---- checks and metrics ----------------------------------------------------

def query_duckdb(sql):
    import duckdb
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def batch_commit_errors(in_batch, committed, key_of):
    """Holds each micro-batch to committing exactly its newest record per
    key. `in_batch` maps batch -> record seqs, `committed` batch -> set of
    committed seqs, `key_of` seq -> key. Returns (lost, extra): records
    newest for their key in their batch but not committed, and committed
    records that are not."""
    lost = extra = 0
    for b, gs in in_batch.items():
        newest = {}
        for g in gs:
            if g in key_of:
                newest[key_of[g]] = max(newest.get(key_of[g], -1), g)
        want = set(newest.values())
        got = committed.get(b, set())
        lost += len(want - got)
        extra += len(got - want)
    return lost, extra


def score_ingest(rundir, sut, gen, flood):
    recs = read_csv(os.path.join(rundir, "gen.csv"))
    committed = read_csv(os.path.join(rundir, "committed.csv"))
    hist = {int(r["version"]): int(r["batch"]) for r in read_csv(os.path.join(rundir, "history.csv"))}
    batches = {int(r["batch"]): r for r in read_csv(os.path.join(rundir, "batches.csv"))}
    sent = {int(r["gseq"]): r for r in recs}
    acked = [r for r in recs if r["status"] == "200"]
    good = [r for r in acked if r["kind"] != "m"]
    malformed = len(acked) - len(good)
    problems = []

    seen = {}
    bad_commit = 0
    by_version = {}
    for c in committed:
        g = int(c["gseq"])
        seen[g] = seen.get(g, 0) + 1
        by_version.setdefault(int(c["version"]), set()).add(g)
        r = sent.get(g)
        if r is None or r["kind"] == "m" or r["id"] != c["id"]:
            bad_commit += 1
    dup = sum(1 for n in seen.values() if n > 1)
    # every acked well-formed record reaches exactly one batch, and each
    # batch commits exactly its newest record per key: the rest of the
    # batch is superseded within it (SnapshotMergeSink needs key-unique
    # batches). The batch's records come from its reject leg.
    in_batch = {}
    for r in read_csv(os.path.join(rundir, "batch_rows.csv")):
        in_batch.setdefault(int(r["batch"]), []).append(int(r["gseq"]))
    batch_of = {}
    for b, gs in in_batch.items():
        for g in gs:
            batch_of.setdefault(g, []).append(b)
    good_seqs = {int(r["gseq"]) for r in good}
    unbatched = len(good_seqs - set(batch_of))
    rebatched = sum(1 for g, bs in batch_of.items() if len(bs) > 1 or g not in good_seqs)
    version_of = {b: v for v, b in hist.items()}
    lost, extra = batch_commit_errors(
        in_batch, {b: by_version.get(v, set()) for b, v in version_of.items()},
        {g: r["id"] for g, r in sent.items()})
    lost += unbatched
    latest = {}
    for r in good:
        if int(r["gseq"]) > int(latest.get(r["id"], {"gseq": -1})["gseq"]):
            latest[r["id"]] = r
    final = {str(i): (s, g) for i, s, g in query_duckdb(
        f"SELECT id, salary, gseq FROM read_parquet('{rundir}/final.parquet/*.parquet')")}
    wrong = sum(1 for i, r in latest.items()
                if final.get(i) != (int(r["salary"]), int(r["gseq"])))
    new_ids = {r["id"] for r in good if r["kind"] == "n"}
    expect_rows = KEYS + len(new_ids) + 8  # 8 warm-up rows
    if len(final) != expect_rows:
        problems.append("final table has %d rows, expected %d" % (len(final), expect_rows))
    if sut["rejected"] != malformed:
        problems.append("reject leg counted %d, %d malformed bodies were acked"
                        % (sut["rejected"], malformed))
    non200 = len(recs) - len(acked)
    for n, what in ((non200, "requests not acked"), (dup, "records committed twice"),
                    (bad_commit, "committed rows that match no sent record"),
                    (rebatched, "records in more than one batch or never sent well-formed"),
                    (lost, "acked records neither committed nor superseded in their batch"),
                    (extra, "committed records superseded in their batch"),
                    (wrong, "keys whose final value is not their latest record")):
        if n:
            problems.append("%d %s" % (n, what))
    failed = non200 + dup + bad_commit + rebatched + lost + extra + wrong \
        + abs(sut["rejected"] - malformed) + (0 if len(final) == expect_rows else 1)

    lag, ack = [], []
    for c in committed:
        r = sent.get(int(c["gseq"]))
        if r is None:
            continue
        commit_us = int(batches[hist[int(c["version"])]]["commit_us"])
        lag.append((commit_us - int(r["due_us"])) / 1000.0)
    for r in acked:
        ack.append((int(r["ack_us"]) - int(r["due_us"])) / 1000.0)
    if not lag:
        raise RunError("no record was committed")
    # records acked and committed per second: from the first due time to
    # the return of the last commit
    first_due = min(int(r["due_us"]) for r in recs)
    last_commit = max(int(b["commit_us"]) for b in batches.values())
    done = len(good) - lost
    lag_s, ack_s = stats.summary(lag), stats.summary(ack)
    # the latency a client of each workload waits on: the steady stream's
    # records wait to become visible; the flood's senders wait for acks
    lat = ack_s if flood else lag_s
    e2e = {"throughput_per_s": done / ((last_commit - first_due) / 1e6),
           "latency_p50_ms": lat["p50"], "latency_tail_ms": lat["tail"]}
    named = {"ack_p50_ms": (ack_s["p50"], "ms", ack_s["n"]),
             "ack_p99_ms": (ack_s["tail"], "ms", "%s of %d" % (ack_s["tail_label"], ack_s["n"])),
             "commit_lag_p50_ms": (lag_s["p50"], "ms", lag_s["n"]),
             "commit_lag_p99_ms": (lag_s["tail"], "ms", "%s of %d" % (lag_s["tail_label"], lag_s["n"])),
             "flood_rps": (e2e["throughput_per_s"], "1/s", done)}
    ctx = {"recs": recs, "acked": acked, "committed": committed, "sent": sent,
           "hist": hist, "batches": batches, "malformed": malformed, "ack": ack_s}
    return len(recs), failed, problems, e2e, named, ctx


def score_enrich(rundir, sut, gen, flood):
    k = sut["passes_total"]
    bad, rows = query_duckdb(f"""
        SELECT count(*) FILTER (WHERE f.salary IS DISTINCT FROM
                 e.salary + {k} * 1000 * (e.id % 30)), count(f.id)
        FROM read_parquet('{rundir}/data/employees.parquet') e
        FULL JOIN read_parquet('{rundir}/final.parquet/*.parquet') f ON e.id = f.id""")[0]
    problems = []
    if bad:
        problems.append("%d rows do not hold salary + %d * 1000 * yearsofexp" % (bad, k))
    if rows != KEYS or sut["rows"] != KEYS:
        problems.append("row count changed: %d, expected %d" % (rows, KEYS))
    passes = sut["pass_log"]
    pass_s = [(c - a) / 1e6 for a, b, c in passes]
    attempted = KEYS * len(passes)
    failed = bad + abs(rows - KEYS)
    summ = stats.summary([s * 1000.0 for s in pass_s])
    e2e = {"throughput_per_s": attempted / sum(pass_s),
           "latency_p50_ms": summ["p50"], "latency_tail_ms": summ["tail"]}
    named = {"enrich_rps": (e2e["throughput_per_s"], "1/s", attempted),
             "enrich_pass_p50_s": (summ["p50"] / 1000.0, "s", len(passes))}
    return attempted, failed, problems, e2e, named, {"pass_s": pass_s}


def score_query(rundir, sut, gen, flood):
    import duckdb
    con = duckdb.connect()
    for t in ("customer", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{rundir}/data/{t}.parquet')")
    problems = []
    for g in sut["gates"]:
        with open(os.path.join(rundir, "oracle-%s.sql" % g)) as f:
            ref = con.execute(f.read())
        cols = ", ".join('"%s"' % d[0] for d in ref.description)
        want = collections.Counter(ref.fetchall())
        try:
            got = collections.Counter(con.execute(
                f"SELECT {cols} FROM read_parquet('{rundir}/result-{g}.parquet/*.parquet')"
            ).fetchall())
        except duckdb.Error as e:
            problems.append("%s: result does not have the oracle's columns: %s" % (g, e))
            continue
        if got != want:
            problems.append("%s: %d rows differ from the DuckDB oracle (%d rows)"
                            % (g, sum(((got - want) + (want - got)).values()), sum(want.values())))
    con.close()
    passes = sut["pass_log"]
    pass_s = [sum(b + p_ + e for b, p_, e in ps) / 1e6 for ps in passes]
    attempted = len(sut["gates"]) * len(passes)
    summ = stats.summary([x * 1000.0 for x in pass_s])
    e2e = {"throughput_per_s": attempted / sum(pass_s),
           "latency_p50_ms": summ["p50"], "latency_tail_ms": summ["tail"]}
    named = {"query_mix_s": (summ["p50"] / 1000.0, "s", len(passes))}
    return attempted, len(problems), problems, e2e, named, {"pass_s": pass_s}


def p(values, q):
    return stats.percentile(values, q) if values else 0.0


def tail_or_zero(values):
    return stats.tail(values)[1] if values else 0.0


# The gates query_mix runs, as perfbench.Sut runs them.
GATES = ("q97_sql_statements",)

PER_LAYER = [
    ("ingest.posts", "count"), ("ingest.acked", "count"), ("ingest.refused_503", "count"),
    ("ingest.rejected_malformed", "count"), ("ingest.backlog_rows_max", "rows"),
    ("ingest.backlog_slope_rows_s", "rows/s"), ("ingest.ack_p50_ms", "ms"),
    ("ingest.ack_p99_ms", "ms"),
    ("stream.batches", "count"), ("stream.batch_rows_p50", "rows"),
    ("stream.trigger_ms_p50", "ms"), ("stream.trigger_ms_p99", "ms"),
    ("stream.add_batch_ms_p50", "ms"), ("stream.latest_offset_ms_p50", "ms"),
    ("stream.offset_log_ms_p50", "ms"), ("stream.idle_share", "share"),
    ("merge.upsert_ms_p50", "ms"), ("merge.upsert_ms_p99", "ms"),
    ("merge.rows_per_commit_p50", "rows"),
    ("commit.count", "count"), ("commit.jobs_per_commit", "count"),
    ("commit.stages_per_commit", "count"), ("commit.files_per_commit", "count"),
    ("commit.bytes_per_row", "B"), ("commit.writeback_ms_p50", "ms"),
    ("enrich.pass_s_p50", "s"), ("enrich.transform_calls", "count"),
    ("enrich.transform_server_busy_ms", "ms"), ("enrich.task_run_ms", "ms"),
    ("enrich.shuffle_bytes", "B"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.shuffle_write_bytes", "B"), ("exec.executor_run_ms", "ms"),
    ("exec.executor_cpu_ms", "ms"),
] + [("query.%s.%s" % (g, k), u) for g in GATES
     for k, u in (("s", "s"), ("build_ms", "ms"), ("plan_ms", "ms"), ("jobs", "count"))] + [
    ("jvm.gc_ms", "ms"), ("jvm.cpu_s", "s"), ("jvm.rss_peak_mb", "MB"),
    ("gen.late_ms_p99", "ms"), ("gen.cpu_s", "s"),
    ("path.ack_ms", "ms"), ("path.trigger_wait_ms", "ms"), ("path.stream_ms", "ms"),
    ("path.merge_ms", "ms"),
    ("self.stream_batch_ms", "ms"), ("self.merge_upsert_ms", "ms"),
    ("self.reject_count_ms", "ms"), ("self.spark_job_ms", "ms"),
    ("self.enrich_pass_ms", "ms"), ("self.enrich_map_ms", "ms"),
    ("self.commit_writeback_ms", "ms"), ("self.query_build_ms", "ms"),
    ("self.query_plan_ms", "ms"), ("self.query_exec_ms", "ms"),
]


def per_layer(workload, rundir, sut, gen, ctx):
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["jvm.gc_ms"] = sut["jvm_gc_ms"]
    m["jvm.cpu_s"] = sut["jvm_cpu_s"]
    m["jvm.rss_peak_mb"] = sut["rss_peak_mb"]
    m["gen.late_ms_p99"] = gen.get("late_ms_p99", 0.0)
    m["gen.cpu_s"] = gen.get("cpu_s", 0.0)
    ex = sut["exec_all"]
    m.update({"exec.jobs": ex["jobs"], "exec.stages": ex["stages"], "exec.tasks": ex["tasks"],
              "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
              "exec.executor_run_ms": ex["run_ms"], "exec.executor_cpu_ms": ex["cpu_ms"]})
    with open(os.path.join(rundir, "spans.jsonl")) as f:
        spans = [json.loads(l) for l in f]
    if workload.startswith("ingest_"):
        recs, batches = ctx["recs"], ctx["batches"]
        m["ingest.posts"] = sum(int(r["attempts"]) for r in recs)
        m["ingest.acked"] = sut["acked_by_server"]
        m["ingest.refused_503"] = sum(int(r["attempts"]) - 1 for r in recs)
        m["ingest.rejected_malformed"] = sut["rejected"]
        m["ingest.ack_p50_ms"] = ctx["ack"]["p50"]
        m["ingest.ack_p99_ms"] = ctx["ack"]["tail"]
        g = sut["gauges"]
        if g:
            m["ingest.backlog_rows_max"] = max(b for _, b, _ in g)
            xs = [(t - g[0][0]) / 1e6 for t, _, _ in g]
            ys = [b for _, b, _ in g]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            var = sum((x - mx) ** 2 for x in xs)
            m["ingest.backlog_slope_rows_s"] = (
                sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0)
        sb = sut["stream_batches"]
        trig = [b["trigger_ms"] for b in sb]
        m["stream.batches"] = len(sb)
        m["stream.batch_rows_p50"] = p([b["rows"] for b in sb], 50)
        m["stream.trigger_ms_p50"] = p(trig, 50)
        m["stream.trigger_ms_p99"] = tail_or_zero(trig)
        m["stream.add_batch_ms_p50"] = p([b["add_batch_ms"] for b in sb], 50)
        m["stream.latest_offset_ms_p50"] = p([b["latest_offset_ms"] for b in sb], 50)
        m["stream.offset_log_ms_p50"] = p([b["offset_log_ms"] for b in sb], 50)
        window = (sut["drained_us"] - min(int(r["due_us"]) for r in recs)) / 1e6
        m["stream.idle_share"] = max(0.0, 1.0 - sum(trig) / 1000.0 / window)
        ups = [(int(b["commit_us"]) - int(b["merge_start_us"])) / 1000.0 for b in batches.values()]
        m["merge.upsert_ms_p50"] = p(ups, 50)
        m["merge.upsert_ms_p99"] = tail_or_zero(ups)
        per_version = {}
        for c in ctx["committed"]:
            per_version[c["version"]] = per_version.get(c["version"], 0) + 1
        m["merge.rows_per_commit_p50"] = p(list(per_version.values()), 50)
        n = max(1, sut["commits"])
        mx_ = sut["exec_merge"]
        m["commit.count"] = sut["commits"]
        m["commit.jobs_per_commit"] = mx_["jobs"] / n
        m["commit.stages_per_commit"] = mx_["stages"] / n
        m["commit.files_per_commit"] = sum(int(b["new_files"]) for b in batches.values()) / n
        rows = max(1, len(ctx["committed"]))
        m["commit.bytes_per_row"] = sum(int(b["new_bytes"]) for b in batches.values()) / rows
        # blocking path of each visible record: due -> ack -> next trigger
        # starts -> the stream hands the batch to the merge -> commit returns
        starts = {s["id"]: s["start_us"] for s in spans if s["name"] == "stream.batch"}
        parts = []
        for c in ctx["committed"]:
            r = ctx["sent"][int(c["gseq"])]
            b = ctx["hist"][int(c["version"])]
            bs = starts.get("batch-%d" % b)
            if bs is None:
                continue
            bl = batches[b]
            due, ackt = int(r["due_us"]), int(r["ack_us"])
            parts.append(((int(bl["commit_us"]) - due) / 1000.0,
                          (ackt - due) / 1000.0, (bs - ackt) / 1000.0,
                          (int(bl["merge_start_us"]) - bs) / 1000.0,
                          (int(bl["commit_us"]) - int(bl["merge_start_us"])) / 1000.0))
        if parts:
            # mean decomposition of the records around the median lag
            parts.sort()
            lo, hi = int(len(parts) * 0.4), max(int(len(parts) * 0.6), int(len(parts) * 0.4) + 1)
            band = parts[lo:hi]
            for i, name in enumerate(("path.ack_ms", "path.trigger_wait_ms",
                                      "path.stream_ms", "path.merge_ms"), start=1):
                m[name] = sum(x[i] for x in band) / len(band)
        for r in recs:
            spans.append({"id": "req-" + r["gseq"], "parent": "", "name": "gen.request",
                          "start_us": int(r["due_us"]), "end_us": int(r["ack_us"]),
                          "req": r["gseq"]})
    elif workload == "enrich_writeback":
        ps = ctx["pass_s"]
        m["enrich.pass_s_p50"] = p(ps, 50)
        m["enrich.transform_calls"] = gen["calls"]
        m["enrich.transform_server_busy_ms"] = gen["busy_ms"]
        m["enrich.task_run_ms"] = sut["exec_enrich"]["run_ms"]
        m["enrich.shuffle_bytes"] = sut["exec_enrich"]["shuffle_write_bytes"]
        wb = [(c - b) / 1000.0 for a, b, c in sut["pass_log"]]
        m["commit.count"] = len(wb)
        m["commit.writeback_ms_p50"] = p(wb, 50)
        n = max(1, len(wb))
        m["commit.jobs_per_commit"] = sut["exec_writeback"]["jobs"] / n
        m["commit.stages_per_commit"] = sut["exec_writeback"]["stages"] / n
    else:
        passes = sut["pass_log"]
        for i, g in enumerate(sut["gates"]):
            runs = [ps[i] for ps in passes]
            m["query.%s.s" % g] = p([(b + p_ + e) / 1e6 for b, p_, e in runs], 50)
            m["query.%s.build_ms" % g] = p([b / 1000.0 for b, _, _ in runs], 50)
            m["query.%s.plan_ms" % g] = p([p_ / 1000.0 for _, p_, _ in runs], 50)
            m["query.%s.jobs" % g] = sut["gate_jobs"][i] / len(runs)
    by_name = stats.self_time_by_name(spans)
    for name in ("stream.batch", "merge.upsert", "reject.count", "spark.job",
                 "enrich.pass", "enrich.map", "commit.writeback", "query.build",
                 "query.plan", "query.exec"):
        m["self." + name.replace(".", "_") + "_ms"] = by_name.get(name, 0) / 1000.0
    return m, spans, by_name


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


E2E = [("setup_s", "s"), ("heap_after_gc_peak_mb", "MB"), ("throughput_per_s", "1/s"),
       ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms")]


def bench(workload, seed, seconds, trace):
    cp = build()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    rundir = os.path.join(WORK, "runs", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    load_start = load1()
    sut, gen = run_once(cp, workload, seed, seconds, trace, rundir)
    load_end = load1()
    scorer = (score_ingest if workload.startswith("ingest_") else
              score_enrich if workload == "enrich_writeback" else score_query)
    attempted, failed, problems, e2e, named, ctx = scorer(
        rundir, sut, gen, workload == "ingest_flood")
    e2e["setup_s"] = sut["setup_s"]
    e2e["heap_after_gc_peak_mb"] = sut["heap_after_gc_peak_mb"]
    named["rss_peak_mb"] = (sut["rss_peak_mb"], "MB", "VmHWM")
    late = gen.get("late_ms_p99", 0.0)
    stamp = {"git_sha": git_sha(), "source_hash": source_hash(), "nproc": os.cpu_count(),
             "load1_start": load_start, "load1_end": load_end,
             "sut_cpu_s": sut["jvm_cpu_s"], "gen_cpu_s": gen.get("cpu_s", 0.0),
             "gc_ms": sut["jvm_gc_ms"], "gen_late_ms_p99": late,
             "valid": late <= GEN_LATE_LIMIT_MS}
    print("workload %s seed %d seconds %g trace %d" % (workload, seed, seconds, trace))
    print("stamp " + json.dumps(stamp))
    if not stamp["valid"]:
        print("INVALID RUN: the generator ran %.1f ms late (p99), over the %.0f ms limit"
              % (late, GEN_LATE_LIMIT_MS))
    for p_ in problems:
        print("CHECK FAILED: " + p_)
    print("setup repetitions: %s s" % ", ".join("%.3f" % x for x in sut["setup_reps_s"]))
    print("JVM and Spark session start, not in setup_s: %.3f s" % sut["setup_session_s"])
    for name, (v, unit, n) in named.items():
        print("%-22s %12.3f %-5s (n=%s)" % (name, v, unit, n))
    if trace:
        metrics, spans, by_name = per_layer(workload, rundir, sut, gen, ctx)
        units = dict(PER_LAYER)
        tdir = os.path.join(WORK, "trace")
        os.makedirs(tdir, exist_ok=True)
        base = os.path.join(tdir, "%s-seed%d" % (workload, seed))
        with open(base + ".spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        overhead = tracing_overhead(workload, stamp["source_hash"], seconds, e2e)
        with open(base + ".report.json", "w") as f:
            json.dump({"stamp": stamp, "end_to_end": e2e, "per_layer": metrics,
                       "self_us_by_span": by_name, "tracing_overhead": overhead}, f, indent=1)
        print("spans and self times written to " + os.path.relpath(base, ROOT) + ".*")
        if metrics["path.merge_ms"]:
            parts = [metrics[k] for k in ("path.ack_ms", "path.trigger_wait_ms",
                                          "path.stream_ms", "path.merge_ms")]
            print("blocking path of the records around the median commit lag: ack %.1f + "
                  "trigger wait %.1f + stream %.1f + merge %.1f = %.1f ms "
                  "(commit lag p50 %.1f ms)" % tuple(parts + [sum(parts),
                                                               named["commit_lag_p50_ms"][0]]))
        for name, us in sorted(by_name.items()):
            print("self time %-18s %12.1f ms" % (name, us / 1000.0))
        print("tracing overhead: " + (json.dumps(overhead) if overhead else
              "no untraced run of this workload in this checkout to compare with"))
        out_units = units
    else:
        metrics = e2e
        out_units = dict(E2E)
        with open(os.path.join(WORK, "untraced.jsonl"), "a") as f:
            f.write(json.dumps({"workload": workload, "source_hash": stamp["source_hash"],
                                "seconds": seconds, "metrics": e2e}) + "\n")
    for name, unit in out_units.items():
        print("%-34s %14.4f %s" % (name, metrics[name], unit))
    shutil.rmtree(rundir, ignore_errors=True)
    return {"correct": failed == 0 and not problems, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in out_units.items()}}


def tracing_overhead(workload, source, seconds, traced):
    """Traced run minus the median of the untraced runs of the same
    workload, sources and window in this checkout."""
    path = os.path.join(WORK, "untraced.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        rows = [json.loads(l) for l in f]
    runs = [r["metrics"] for r in rows
            if r["workload"] == workload and r.get("source_hash") == source
            and r.get("seconds") == seconds]
    if not runs:
        return None
    out = {}
    for k in ("throughput_per_s", "latency_p50_ms"):
        base = stats.percentile([r[k] for r in runs], 50)
        out[k] = {"traced": traced[k], "untraced_median": base,
                  "untraced_runs": len(runs), "change_share": (traced[k] - base) / base}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload for a few seconds with its checks")
    a = ap.parse_args()
    try:
        if a.smoke:
            ok = True
            for w in sorted(WORKLOADS):
                r = bench(w, a.seed, 3, a.trace)
                ok = ok and r["correct"] and r["failed"] == 0
                print(json.dumps(r))
            sys.exit(0 if ok else 1)
        if not a.workload:
            ap.error("--workload is required")
        r = bench(a.workload, a.seed, a.seconds, a.trace)
    except RunError as e:
        log("perfbench: " + str(e))
        sys.exit(2)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
