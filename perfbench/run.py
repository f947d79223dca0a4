"""Benchmark of the committed extraction job. Run from the repository root:

    python3 perfbench/run.py --workload mixed_commit --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (perfbench/build.py), starts one
JVM with local[nproc] task slots and a heap derived from MemTotal, and
prints as its last stdout line one JSON object with keys correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1). Everything a run writes goes under one scratch root inside
the checkout, removed at exit; span and profile records go to .bench_out/.
See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

ROOT = build.ROOT
SPEC = os.path.join(ROOT, "BENCHMARK.json")
OUT_DIR = os.path.join(ROOT, ".bench_out")
SCRATCH_BASE = os.path.join(ROOT, ".bench_scratch")
RUN_LIMIT_S = 170  # keeps a whole run under three minutes
TMP = "/tmp"
# what a JVM or Spark run leaves in the system temp dir when it is not
# pointed elsewhere
TMP_LEAK = re.compile(r"^(spark-|blockmgr-|hsperfdata_|snappy-|liblz4|libzstd|zstd|"
                      r"jna|temp_shuffle|artifacts-|graft|perfbench)")
# every workload the benchmark implements; BENCHMARK.json lists the ones a
# full set of runs covers
WORKLOADS = ("mixed_commit", "html_short", "hot_light", "reingest_delta")


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem(total_mb):
    """SPARK_DRIVER_MEM if set, else half of MemTotal clamped to 2-8 GiB
    (the rule the Tier-1 test command uses)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    return f"{min(8, max(2, total_mb // 2048))}g"


def tmp_entries():
    try:
        return set(os.listdir(TMP))
    except OSError:
        return set()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through the cleanup below (kill the JVM, drop
    # scratch), ignoring any further SIGTERM so it cannot cut the cleanup short
    def on_term(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)
    signal.signal(signal.SIGTERM, on_term)

    try:
        with open(SPEC) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read {SPEC}: {e}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    try:
        build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")

    slots = nproc()
    total_mb = mem_total_mb()
    heap = driver_mem(total_mb)
    tmp_before = tmp_entries()
    os.makedirs(OUT_DIR, exist_ok=True)
    scratch = os.path.join(SCRATCH_BASE, f"{a.workload}-seed{a.seed}-{os.getpid()}")
    jtmp = os.path.join(scratch, "tmp")
    os.makedirs(jtmp)
    cmd = build.jvm_command(heap, jtmp, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--scratch", scratch, "--out", OUT_DIR,
        "--slots", str(slots), "--mem-total-mb", str(total_mb)])
    print(f'{{"launch":{{"task_slots":{slots},"heap":"{heap}","mem_total_mb":{total_mb}}}}}',
          flush=True)
    result = None
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, text=True,
                            env=build.jvm_env(heap, os.path.join(scratch, "spark-local")))
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        out = ""
        print("[perfbench] run exceeded its time limit", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_BASE)
        except OSError:
            pass

    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with {proc.returncode} and no result", 1)

    leaked = sorted(e for e in tmp_entries() - tmp_before if TMP_LEAK.match(e))
    if leaked:
        print(f"[perfbench] run left new entries under {TMP}: {leaked}", file=sys.stderr)
        result["correct"] = False
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != wanted:
        print(f"[perfbench] metrics differ from {os.path.basename(SPEC)}: "
              f"missing {sorted(set(wanted) - set(got))}, extra {sorted(set(got) - set(wanted))}, "
              f"units {sorted(k for k in got if k in wanted and got[k] != wanted[k])}",
              file=sys.stderr)
        result["correct"] = False
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
