"""Shuffle/stage profile of the validate job (north-rule floor analysis).

Runs validate_job via spark-submit with the event log enabled, then
parses SparkListenerStageCompleted events into a per-stage table:
shuffle write/read bytes, input bytes, executor run time — sorted by
shuffle write.  This is the measurement VERDICT r4 item 4 asks for
before attacking the 2->8 scaling gap: find the largest exchange, not
the most suspicious-looking one.

Usage: python tools/profile_shuffles.py [--rows 8000000] [--cores 8]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def make_pyfiles_zip(path: str) -> str:
    """Package pynomaly_spark for --py-files (the cluster deploy artifact)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "pynomaly_spark")
        for root, _, names in os.walk(pkg):
            for n in names:
                if n.endswith(".py"):
                    full = os.path.join(root, n)
                    zf.write(full, os.path.relpath(full, REPO))
    return path


def ensure_input(rows: int) -> str:
    """Write the ``rows``-row code table once into a cache directory.

    Datagen runs in a SUBPROCESS: an in-process SparkSession's py4j
    gateway JVM survives spark.stop() for the lifetime of this script,
    and a leftover datagen JVM would compete with the profiled job.
    """
    from pynomaly_spark.datagen_spark import DATAGEN_VERSION

    cache = f"/tmp/pynomaly_bench/code_v{DATAGEN_VERSION}_{rows}"
    if not os.path.exists(f"{cache}/_DONE"):
        code = (
            "import sys; sys.path.insert(0, %r)\n"
            "from pynomaly_spark.session import get_spark\n"
            "from pynomaly_spark.datagen_spark import write_code_table_spark\n"
            "spark = get_spark('profile-datagen')\n"
            "write_code_table_spark(spark, %r, %d, seed=7)\n"
            "open(%r + '/_DONE', 'w').write('ok')\n"
            "spark.stop()\n" % (REPO, cache, rows, cache)
        )
        subprocess.run([sys.executable, "-c", code], check=True, timeout=1800)
    return cache


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=8_000_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--salt-rows", type=int, default=1000)
    args = ap.parse_args()

    input_dir = ensure_input(args.rows)
    zip_path = make_pyfiles_zip("/tmp/pynomaly_bench/pynomaly_spark.zip")
    evdir = "/tmp/pynomaly-eventlog"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    spark_submit = shutil.which("spark-submit")
    env = dict(os.environ)
    env.update(
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        PYNOMALY_SUITE_TIMINGS="1",
    )
    os.makedirs("/dev/shm/pynomaly-spark-local", exist_ok=True)
    cmd = [
        spark_submit,
        "--master", f"local[{args.cores}]",
        "--conf", f"spark.sql.shuffle.partitions={args.cores}",
        "--conf", f"spark.default.parallelism={args.cores}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.driver.memory=16g",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir={evdir}",
        "--conf", "spark.local.dir=/dev/shm/pynomaly-spark-local",
        "--py-files", zip_path,
        os.path.join(REPO, "pynomaly_spark", "jobs", "validate_job.py"),
        "--input", input_dir,
        "--salt-rows", str(args.salt_rows),
        "--out", "/dev/shm/pynomaly-validate-out",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=1800)
    for line in out.stderr.splitlines():
        if "[suite-timing]" in line:
            print(line)
    result = None
    for line in out.stdout.splitlines()[::-1]:
        if line.strip().startswith("{") and '"files_per_sec"' in line:
            result = line.strip()
            break
    print(result or f"NO RESULT\n{out.stdout[-1500:]}\n{out.stderr[-1500:]}")

    stages = []
    # Spark 4 rolling event logs are DIRECTORIES (eventlog_v2_<app>/
    # events_1_<app>.zstd); walk every regular file under evdir and
    # decompress .zstd via the zstd binary (no zstandard module here)
    ev_files = []
    for root, _dirs, files in os.walk(evdir):
        ev_files.extend(
            os.path.join(root, f)
            for f in files
            if "appstatus" not in f and not f.startswith(".")
        )

    def _open_ev(path):
        import io
        if path.endswith(".zstd"):
            p = subprocess.run(["zstd", "-dc", path], capture_output=True)
            return io.StringIO(p.stdout.decode())
        return open(path)

    for fn in ev_files:
        with _open_ev(fn) as fh:
            for raw in fh:
                try:
                    ev = json.loads(raw)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") != "SparkListenerStageCompleted":
                    continue
                si = ev["Stage Info"]
                acc = {a["Name"]: a.get("Value", 0) for a in si.get("Accumulables", [])}

                def g(name):
                    v = acc.get(name, 0)
                    try:
                        return int(v)
                    except (TypeError, ValueError):
                        return 0

                stages.append(
                    {
                        "stage": si["Stage ID"],
                        "name": si["Stage Name"].split("\n")[0][:70],
                        "tasks": si["Number of Tasks"],
                        "sh_write_mb": round(g("internal.metrics.shuffle.write.bytesWritten") / 1e6, 1),
                        "sh_read_mb": round(g("internal.metrics.shuffle.read.remoteBytesRead") / 1e6
                                            + g("internal.metrics.shuffle.read.localBytesRead") / 1e6, 1),
                        "input_mb": round(g("internal.metrics.input.bytesRead") / 1e6, 1),
                        "output_mb": round(g("internal.metrics.output.bytesWritten") / 1e6, 1),
                        "run_sec": round(g("internal.metrics.executorRunTime") / 1e3, 1),
                        "cpu_sec": round(g("internal.metrics.executorCpuTime") / 1e9, 1),
                    }
                )
    stages.sort(key=lambda s: -(s["sh_write_mb"] + s["output_mb"]))
    tot_w = sum(s["sh_write_mb"] for s in stages)
    tot_i = sum(s["input_mb"] for s in stages)
    tot_o = sum(s["output_mb"] for s in stages)
    tot_run = sum(s["run_sec"] for s in stages)
    print(f"\nTOTAL shuffle write {tot_w:.0f} MB | input {tot_i:.0f} MB | "
          f"output {tot_o:.0f} MB | executor-sec {tot_run:.0f}")
    print(f"{'stage':>5} {'tasks':>5} {'shW MB':>8} {'shR MB':>8} {'in MB':>8} "
          f"{'out MB':>8} {'run s':>7} {'cpu s':>7}  name")
    for s in stages[:25]:
        print(f"{s['stage']:>5} {s['tasks']:>5} {s['sh_write_mb']:>8} "
              f"{s['sh_read_mb']:>8} {s['input_mb']:>8} {s['output_mb']:>8} "
              f"{s['run_sec']:>7} {s['cpu_sec']:>7}  {s['name']}")


if __name__ == "__main__":
    main()
