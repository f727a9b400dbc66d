"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark if needed (see build.py), runs the
workload in one JVM, and prints as its last line one JSON object with the
keys correct, attempted, failed and metrics. The full record (every
metric, notes, spans when traced, and the host weather around the run)
is written under .bench_build/perfbench/records/ and its path printed on
the line before. Exits non-zero when any answer is wrong or the run fails.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("index_build", "search_serve", "dedup_curate")
TIMEOUT_S = 170
_CANARY = random.Random(7).randbytes(1 << 20)  # incompressible, same every run


def io_canary(directory: Path) -> float:
    """Seconds to write 32 MiB and fsync it where the run keeps its files."""
    p = directory / f"canary-{os.getpid()}.bin"
    t0 = time.perf_counter()
    with open(p, "wb") as f:
        for _ in range(32):
            f.write(_CANARY)
        f.flush()
        os.fsync(f.fileno())
    s = time.perf_counter() - t0
    p.unlink()
    return s


def cpu_times() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def weather_sample(directory: Path) -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"io_canary_s": io_canary(directory), "loadavg": load}


def steal_share(before: list, after: list) -> dict:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8]) or 1
    return {"steal_frac": d[7] / total, "iowait_frac": d[4] / total}


def run_jvm(built: Path, main: str, args: list, work: Path, log: Path) -> tuple:
    cmd = build.java_cmd(built, main, args, work / "tmp")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "wb") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return 124, ""
        finally:
            try:  # Spark leaves no children, but never leave any behind
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    return proc.returncode, out.decode("utf-8", "replace")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    # a terminated runner still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    built = build.build()
    records = build.OUT / "records"
    records.mkdir(parents=True, exist_ok=True)
    work = build.OUT / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.selftest:
            log = work / "selftest.log"
            rc, out = run_jvm(built, "graftbench.SelfTest", [], work, log)
            sys.stdout.write(out)
            if rc != 0:
                sys.stderr.write(log.read_text(errors="replace")[-4000:])
            return rc

        stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
        record, log = records / f"{name}.json", records / f"{name}.log"
        cpus = len(os.sched_getaffinity(0))
        w0, c0 = weather_sample(work), cpu_times()
        rc, out = run_jvm(built, "graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cpus), "--work", str(work / "data"),
            "--record", str(record)], work, log)
        w1, c1 = weather_sample(work), cpu_times()
        lines = [ln for ln in out.splitlines() if ln.strip()]
        try:
            result = json.loads(lines[-1])
            full = json.loads(record.read_text())
        except (IndexError, ValueError, OSError):
            sys.stderr.write(f"[perfbench] run failed (exit {rc}); log: {log}\n")
            sys.stderr.write(log.read_text(errors="replace")[-4000:])
            return rc or 1
        full["weather"] = {"before": w0, "after": w1, **steal_share(c0, c1)}
        record.write_text(json.dumps(full))
        if rc != 0:
            sys.stderr.write("[perfbench] failures: " + json.dumps(full.get("failures")) + "\n")
        print(f"[perfbench] record: {record}")
        print(json.dumps(result))
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
