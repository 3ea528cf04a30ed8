#!/usr/bin/env python3
"""Run one workload of the repository's benchmark and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the program and the
harness with sbt (offline) into perfbench/target and generates the query
fixture there; later runs reuse both until a source file changes. The
workload runs in one JVM (perfbench.Main) that writes result.json into
perfbench/target/work/NAME; this script adds the DuckDB oracle check for
query_mix, prints every metric by name and unit, and prints the result as
one JSON object on the last line. With --trace 0 the metrics are the
end-to-end ones, with --trace 1 the per-layer ones. The exit code is 1 on
any store-state or oracle mismatch and 2 when the program cannot be built.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import pickle
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
WORKLOADS = ("archive_daily", "query_mix")
# A fixed heap in place of the program's -Xmx8g without -Xms: G1 grows a
# heap from its GC overhead, which depends on timing, so with a growing
# heap peak RSS and query timings spread by a fifth to a quarter between
# runs of the same code. peak_rss_mb is this heap plus native memory.
HEAP = "2g"
# the query fixture: tools/gen_testdata.py at scale 100 has sf0.1's row counts
FIXTURE_SCALE = "100"
DEADLINE_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile the program and the harness unless the sources are unchanged."""
    need = ["build.sbt", "project/build.properties", "src/main", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/main"]
    if not all(os.path.exists(os.path.join(ROOT, p)) for p in need):
        die("the program's sources are not here; run from a full checkout of the repository")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = digest(need)
    launch = os.path.join(BUILD, "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                           cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(launch):
        tail = open(log).read()[-3000:]
        die(f"build failed (see {log}):\n{tail}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return launch


def fixture():
    """The sf0.1-sized query fixture, generated once per generator version."""
    gen = os.path.join(ROOT, "tools", "gen_testdata.py")
    if not os.path.exists(gen):
        die("tools/gen_testdata.py is missing")
    stamp = digest(["tools/gen_testdata.py"]) + FIXTURE_SCALE
    data = os.path.join(BUILD, "data", "sf0.1")
    stamp_file = os.path.join(BUILD, "data", "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return data
    shutil.rmtree(os.path.join(BUILD, "data"), ignore_errors=True)
    os.makedirs(os.path.dirname(data))
    r = subprocess.run([sys.executable, gen, data, FIXTURE_SCALE], stdout=subprocess.DEVNULL,
                       stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        die("fixture generation failed:\n" + r.stderr[-3000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return data


def commit():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True).stdout.strip()
        if top and os.path.realpath(top) == os.path.realpath(ROOT):
            return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                  capture_output=True, text=True).stdout.strip() or "unknown"
    except OSError:
        pass
    return "unknown"


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (user .. steal), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b  # Decimal == int compares exactly at any width


def oracle_expected(con, data_stamp, name, sql):
    """The oracle's (sorted schema, rows in schema order) for one query. They
    depend only on the fixture, the views tools/common.py defines over it,
    the DuckDB version and the SQL, so they are cached under perfbench/target
    after the first run computes them."""
    key = hashlib.sha256((data_stamp + "\0" + sql).encode()).hexdigest()
    path = os.path.join(BUILD, "oracle", f"{name}-{key[:16]}.pickle")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    rel = con.sql(sql)
    schema = sorted(zip(rel.columns, [str(t) for t in rel.types]))
    cols = ", ".join(f'"{c}"' for c, _ in schema)
    expected = (schema, con.sql(f"SELECT {cols} FROM ({sql})").fetchall())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(expected, fh)
    os.replace(path + ".tmp", path)
    return expected


def oracle_mismatches(data, work):
    """tools/check.py's rules: column names, exact DuckDB type names and
    exact values in row order, Spark's warm-up result against the oracle
    SQL over the same parquet."""
    import duckdb
    sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from common import register_views
    con = duckdb.connect()
    # DuckDB spills under the working directory unless told otherwise
    con.execute(f"SET temp_directory = '{os.path.join(BUILD, 'duckdb-tmp')}'")
    register_views(con, data)
    data_stamp = (open(os.path.join(BUILD, "data", "stamp")).read() +
                  digest(["tools/common.py"]) + duckdb.__version__)
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    bad = []
    for name, sql in oracle.items():
        spark_dir = os.path.join(work, "results", name)
        try:
            exp_schema, exp = oracle_expected(con, data_stamp, name, sql)
            got_rel = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'")
            got_schema = sorted(zip(got_rel.columns, [str(t) for t in got_rel.types]))
            if got_schema != exp_schema:
                bad.append(f"{name}: schema {got_schema} vs oracle {exp_schema}")
                continue
            cols = ", ".join(f'"{c}"' for c, _ in got_schema)
            got = con.sql(f"SELECT {cols} FROM '{spark_dir}/*.parquet'").fetchall()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if len(got) != len(exp):
            bad.append(f"{name}: {len(got)} rows vs oracle {len(exp)}")
            continue
        for i, (gr, er) in enumerate(zip(got, exp)):
            diff = [c for (c, _), g, e in zip(got_schema, gr, er) if not cells_equal(g, e)]
            if diff:
                bad.append(f"{name}: row {i} differs in {diff[0]}")
                break
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    start = time.monotonic()

    launch = build()
    data = fixture() if a.workload == "query_mix" else ""
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    lines = open(launch).read().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    cmd = ["java", *jvm_opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", classpath, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
           str(a.trace), work, data, commit()]
    log = os.path.join(work, "jvm.log")
    cpu_before = cpu_times()
    budget = DEADLINE_S - (time.monotonic() - start) - (20 if a.workload == "query_mix" else 5)
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(budget, 30))
        except subprocess.TimeoutExpired:
            die(f"{a.workload} did not finish in time (see {log})", 1)
    result_file = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.exists(result_file):
        die(f"{a.workload} exited with {r.returncode} (see {log}):\n" + open(log).read()[-3000:], 1)
    res = json.load(open(result_file))
    cpu_after = cpu_times()
    if cpu_before and cpu_after:
        # the share of CPU time the hypervisor gave to other guests while the
        # JVM ran: a slow run with high steal was slowed by the host
        d = [after - before for before, after in zip(cpu_before, cpu_after)]
        res["env"]["cpu_steal_share"] = round(d[7] / max(1, sum(d)), 4)
    mismatches = list(res["mismatches"])
    failed = res["failed"]
    if a.workload == "query_mix":
        bad = oracle_mismatches(data, work)
        mismatches += [f"oracle: {m}" for m in bad]
        failed += len(bad)
    shutil.rmtree(os.path.join(work, "store"), ignore_errors=True)
    correct = res["correct"] and not mismatches

    print("env " + json.dumps(res["env"], sort_keys=True))
    for m in mismatches:
        print("mismatch " + m)
    report = dict(res["report"])
    report["failed_ratio"] = {"value": failed / res["attempted"], "unit": "ratio"}
    for name, m in report.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
