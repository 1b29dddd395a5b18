#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload, end to end.

    python3 perfbench/run.py --workload clearvue_job --seed 1 --seconds 20 --trace 0

Run from the repository root. It

  1. builds the engine and the harness from source (sbt, in perfbench/),
     unless the build is current;
  2. generates the input tables from the seed (perfbench/gen_data.py);
  3. runs the workload in one JVM at local[nproc] with nproc shuffle
     partitions (perfbench/src), one client thread, each call starting
     when the previous one returned;
  4. checks the outputs: the exported collections round-trip, every
     measured iteration returns the checked rows, and the checked
     outputs match their DuckDB oracle twins;
  5. prints every metric by name and unit, writes the full record
     (provenance, samples, spans, checks) under perfbench/.work/records,
     and prints as its last line {"correct", "attempted", "failed",
     "metrics"}: the end-to-end metrics with --trace 0, the per-layer
     metrics with --trace 1.

Workloads: clearvue_job, iterative_loops (METRICS.md says why each
exists and what each metric should move). Exit code 0 only when
every operation and check passed and the record was written.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
# the Spark install the engine builds against: $SPARK_HOME, else the one
# whose spark-submit is on PATH
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
# input size: the star schema at TPC-H scale factor sf, and the vectors
SCALE = {"sf": 0.01, "vectors": 1000}
NPROC = len(os.sched_getaffinity(0))
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build compiles, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith(".scala")]
    return files


def build():
    """Compile with sbt unless the stamp of the sources is unchanged.
    Returns True when it built."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return False
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    log("building engine + harness (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_LIMIT_S - 60)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        raise RuntimeError(f"sbt compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return True


def ensure_data(seed):
    """The seed's input tables, generated once per seed and scale."""
    tag = "seed{}-sf{sf}-v{vectors}".format(seed, **SCALE)
    out = os.path.join(WORK, "data", tag)
    if not os.path.exists(os.path.join(out, ".done")):
        import gen_data  # pandas/numpy load only when generating
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out, seed, SCALE["sf"], SCALE["vectors"])
        open(os.path.join(out, ".done"), "w").close()
    return out


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host():
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": NPROC, "mem_total_kb": mem_kb,
            "git_commit": commit}


def scan_mb(data, scans):
    """Compressed parquet MB of the column chunks `scans` read, where each
    scan is "table:col,col,...". (The task input metrics count bytes only
    for some readers, so the scans' footprint is taken from the files.)"""
    import pyarrow.parquet as pq
    total = 0
    for scan in scans:
        table, cols = scan.split(":", 1)
        meta = pq.ParquetFile(os.path.join(data, f"{table}.parquet")).metadata
        wanted = set(cols.split(","))
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            total += sum(rg.column(c).total_compressed_size
                         for c in range(rg.num_columns)
                         if rg.column(c).path_in_schema in wanted)
    return total / (1024 * 1024)


def run_jvm(args, data, work, record_path, limit_s):
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          os.path.join(SPARK_HOME, "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--data", data, "--work", work,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(NPROC),
            "--record", record_path,
            "--t0-ms", str(int(time.time() * 1000))])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"workload did not finish within {limit_s:.0f} s")
    return rc


def main(argv=None):
    t_start = time.time()
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="existing input directory (default: "
                    "generate the seed's tables)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("engine sources (src/main/scala) not found beside perfbench/")
        return 2
    built = build()
    data = os.path.abspath(args.data) if args.data else ensure_data(args.seed)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK, "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)
    ticks0 = cpu_ticks()
    rc = run_jvm(args, data, work, raw_path, limit)
    ticks1 = cpu_ticks()
    if not os.path.exists(raw_path):
        log(open(os.path.join(work, "jvm.log")).read()[-4000:])
        log(f"the workload wrote no record (exit {rc})")
        return 1
    record = metrics.load_record(raw_path)
    for it in record.get("iterations", []):
        for span in it["spans"]:
            if "scans" in span:
                span["input_mb"] = scan_mb(data, span["scans"])
    for key, sql in sorted(record.get("oracle_sql", {}).items()):
        ok, detail = oracle.compare(key, sql, os.path.join(work, "oracle"), data)
        record["attempted"] += 1
        record["checks"].append({"name": f"oracle.{key}", "ok": ok,
                                 "detail": detail})
        if not ok:
            record["failed"] += 1
            record["failures"].append(f"oracle.{key}: {detail}")
    record.setdefault("provenance", {}).update(host())
    # CPU time the hypervisor gave other guests while the workload ran:
    # the main source of run-to-run noise on a shared host
    steal = metrics.ratio(ticks1[0] - ticks0[0], ticks1[1] - ticks0[1])
    record["provenance"]["steal_share"] = steal
    record["provenance"].update(data=data, scale=SCALE if not args.data else None)
    correct = rc == 0 and record["failed"] == 0 and bool(record.get("iterations"))
    m = metrics.summarize(record, bool(args.trace)) if record.get("iterations") else {}
    record["metrics"] = {k: {"value": v, "unit": u, "samples": n}
                         for k, (v, u, n) in m.items()}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    metrics.dump_record(record, os.path.join(WORK, "records", f"{name}.json"))
    for f in record["failures"]:
        log(f"FAILED {f}")
    if rc != 0:
        log(open(os.path.join(work, "jvm.log")).read()[-4000:])
    for k, (v, u, n) in m.items():
        print(f"{args.workload} {k} = {v} {u} (n={n})")
    if not args.trace and record.get("iterations"):
        # two run-level figures that can read 0, so not end-to-end metrics
        v, n = metrics.median_n([i["export_mb"] for i in record["iterations"]])
        print(f"{args.workload} export_mb = {v} MB (n={n}, per-layer)")
        r = metrics.ratio(record["failed"], record["attempted"])
        print(f"{args.workload} fail_ratio = {r['value']} ratio "
              f"(base {r['base']} attempted, per-layer)")
    print(metrics.result_line(correct, record["attempted"], record["failed"], m))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
