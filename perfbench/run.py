#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload eeg_sf001 --seed 1 --seconds 18 --trace 0

Builds the engine and the benchmark (perfbench/build.py), then runs
`graft.perfbench.Main` in one JVM: set-up, a cold and a warm-up pass,
then one measured pass per 3 s of `--seconds` (at least six), checking
every output against perfbench/pins.tsv. The
last stdout line is the JSON result; the full record goes to
<build dir>/results. Other modes:

    --selftest       plant a throwing query and a wrong checksum, assert both count as failures
    --record-pins    write the outputs seen to results/pins-<workload>.tsv instead of checking them

"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = build.BENCH
# A run ends well inside 180 s; a JVM still going after this is stuck.
JVM_TIMEOUT_S = 170
# Spark worker threads: the machine's cores, at most 4, so runs on
# bigger machines stay comparable.
CORES = min(os.cpu_count() or 1, 4)
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit():
    """HEAD of the checkout, or "unknown" outside a git checkout (the source digest still identifies it)."""
    if not (build.ROOT / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True, text=True)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def jvm(classes, digest, main, args, log):
    """Runs one JVM, its stderr to `log`; returns (exit code, stdout)."""
    out = build.build_dir()
    tmp = out / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [build.java(), "-Xmx3g", "-Xss64m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.commit={commit()}", f"-Dperfbench.digest={digest}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", main] + args
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=build.ROOT,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            print(f"run exceeded {JVM_TIMEOUT_S} s; log: {log}", file=sys.stderr)
            return 1, ""
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return proc.returncode, stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-pins", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    data, pins = Path("perfbench", "data"), Path("perfbench", "pins.tsv")
    try:
        if not (build.ROOT / data).is_dir() or not (build.ROOT / pins).is_file():
            raise build.BuildError("benchmark inputs missing")
        classes, digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    out = build.build_dir() / "results"
    if a.selftest:
        code, stdout = jvm(classes, digest, "graft.perfbench.SelfTest", [str(out / "selftest")],
                           out / "selftest.log")
        sys.stdout.write(stdout)
        return code
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    code, stdout = jvm(classes, digest, "graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", str(data), "--out", str(out), "--pins", str(pins),
        "--cores", str(CORES), "--record-pins", "1" if a.record_pins else "0",
    ], out / f"{tag}.log")
    lines = stdout.splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        code = code or 1
    if code != 0:
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        print(f"perfbench: run failed (exit {code}); log: {out / (tag + '.log')}", file=sys.stderr)
        return code
    sys.stdout.write(stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
