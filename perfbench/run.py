#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload suite|grow --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from
source (perfbench/build.py), generates the seeded inputs, runs one JVM
with a local[nproc] master, checks every output, and prints one JSON
result line last: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

DATA_SEED = 42        # the corpus every workload starts from is fixed
BASE_SF = 0.001
READOUT_SF = 0.01     # second scale of the traced suite's fixed/marginal read-out
JVM_TIMEOUT_S = 170
JVM_PREP_TIMEOUT_S = 600


def read_json(path):
    with open(path) as f:
        return json.load(f)


BENCH = read_json(os.path.join(ROOT, "BENCHMARK.json")) \
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else None

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def data_dirs(work):
    """Generate (once) the fixed corpora; returns {name: dir}."""
    stamp = f"d{DATA_SEED}-" + build.file_digest(os.path.join(HERE, "gen.py"))
    root = os.path.join(work, "data", stamp)
    dirs = {"base": os.path.join(root, f"sf{BASE_SF}"),
            "readout": os.path.join(root, f"sf{READOUT_SF}")}
    done = os.path.join(root, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        gen.generate(dirs["base"], BASE_SF, DATA_SEED)
        gen.generate(dirs["readout"], READOUT_SF, DATA_SEED)
        open(done, "w").close()
    return dirs


def grow_batch(work, base, seed):
    d = os.path.join(work, f"batch-{seed}")
    shutil.rmtree(d, ignore_errors=True)
    gen.write_grow_batch(base, d, seed)
    return d


def jvm(classes, args, logfile, timeout=None):
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(logfile)}/tmp",
           "-cp", build.classpath(classes), "perfbench.Harness", *args]
    os.makedirs(os.path.join(os.path.dirname(logfile), "tmp"), exist_ok=True)
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout or JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness timed out, see {logfile}")
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(logfile) as lf:
            sys.stderr.write("".join(lf.readlines()[-30:]))
        raise SystemExit(f"perfbench: harness exited {rc}, see {logfile}")


def table_sql(path):
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def oracle_count(con, sql):
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def oracle_checks(rows, cache=None, tmp=None):
    """DuckDB count of oracleSql(k) over the same files, per checked key.
    Returns a list of (key, ok, detail). `cache` (a JSON file) keeps the
    counts of directories that never change (the fixed corpora), keyed by
    directory and SQL text, so later runs skip the slow oracles."""
    import duckdb
    known = read_json(cache) if cache and os.path.exists(cache) else {}
    out, cons = [], {}
    for r in rows:
        d = r["dir"]
        ck = hashlib.sha256(f"{d}\n{r['sql']}".encode()).hexdigest()
        try:
            if ck not in known or not cache:
                if d not in cons:
                    cons[d] = duckdb.connect()
                    cons[d].execute("SET threads TO 2")
                    if tmp:
                        cons[d].execute(f"SET temp_directory = '{tmp}'")
                    for t in gen.TABLES:
                        cons[d].execute(
                            f"CREATE VIEW {t} AS SELECT * FROM {table_sql(f'{d}/{t}.parquet')}")
                known[ck] = oracle_count(cons[d], r["sql"])
            n = known[ck]
            out.append((r["key"], n == r["rows"], f"spark {r['rows']} duckdb {n}"))
        except Exception as e:  # an oracle that does not run is a failed check
            out.append((r["key"], False, f"duckdb error: {e}"))
    for c in cons.values():
        c.close()
    if cache:
        with open(cache, "w") as f:
            json.dump(known, f)
    return out


def score(res, oracle):
    """(correct, attempted, failed, failures) of one harness result."""
    ops, checks = res["ops"], res["checks"]
    fails = [f"{o['kind']} {o['name']}: {o['err']}" for o in ops if o["err"] is not None]
    fails += [f"check {c['name']}: {c['detail']}" for c in checks if not c["ok"]]
    fails += [f"oracle {k}: {d}" for k, ok, d in oracle if not ok]
    fails += [f"miss in serving: {o['name']}" for o in ops
              if o["kind"] in ("key", "serve") and o["misses"] > 0]
    attempted = len(ops) + len(checks) + len(oracle)
    return not fails, attempted, len(fails), fails


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["suite", "grow"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if BENCH is None or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: run from a full checkout (engine sources missing)")

    classes = build.build()
    work = os.path.join(build.out_dir(), "work")
    os.makedirs(work, exist_ok=True)
    dirs = data_dirs(work)
    cpus = str(nproc())
    common = ["--workload", a.workload, "--cpus", cpus, "--work", work, "--trace", str(a.trace)]

    data = dirs["base"]
    # Warm stores are built once per checkout, untimed, by whichever run
    # comes first: suite's, at the base and the traced read-out scale.
    marker = os.path.join(work, "prepared-" + os.path.basename(os.path.dirname(data)))
    if not os.path.exists(marker):
        log("building warm stores (once per checkout)")
        jvm(classes, common + ["--prep", "--data", data, "--readout", dirs["readout"]],
            os.path.join(work, "prep.log"), JVM_PREP_TIMEOUT_S)
        open(marker, "w").close()

    out = os.path.join(work, f"result-{a.workload}-{a.seed}-{a.trace}.json")
    args = common + ["--seed", str(a.seed), "--seconds", str(a.seconds), "--data", data,
                     "--out", out]
    if a.workload == "grow":
        args += ["--batch", grow_batch(work, dirs["base"], a.seed)]
    if a.workload == "suite" and a.trace:
        args += ["--readout", dirs["readout"], "--sf", str(BASE_SF), "--readout-sf", str(READOUT_SF)]
    steal0 = steal_s()
    jvm(classes, args, os.path.join(work, f"jvm-{a.workload}-{a.seed}-{a.trace}.log"))
    steal = steal_s() - steal0

    res = read_json(out)
    fixed = a.workload != "grow"  # grow's corpus is regrown from the seed every run
    oracle = oracle_checks(res["oracle"], os.path.join(work, "oracle-counts.json") if fixed else None,
                           os.path.join(work, "tmp"))
    correct, attempted, failed, fails = score(res, oracle)
    for f in fails:
        log("FAILED", f)
    wanted = BENCH["per_layer"] if a.trace else BENCH["end_to_end"]
    if a.trace:
        got = {k: (v, None) for k, v in res["layers"].items()}
        got.update({k: (v, None) for k, v in res["extra"].items()
                    if isinstance(v, (int, float)) and not isinstance(v, bool)})
    else:
        got = {k: (m["value"], m["unit"]) for k, m in res["metrics"].items()}
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], (None,))[0]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    record = dict(res["record"], commit=git_commit(), source_stamp=build.source_stamp()[:12],
                  host_steal_s=steal, oracle_checked=len(oracle),
                  error_rate=failed / attempted, failures=fails[:20])
    with open(os.path.join(work, f"record-{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump({"record": record, "extra": res["extra"], "metrics": metrics}, f, indent=1)
    if a.trace:
        print(res["report"])
    print("record: " + json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def steal_s():
    """CPU time the hypervisor took from this machine's vCPUs, in seconds
    (the `steal` column of /proc/stat); recorded so a slow host phase is
    visible next to the figures it slowed."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


if __name__ == "__main__":
    main()
