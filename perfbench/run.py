"""Crawl benchmark entry point.

    python3 perfbench/run.py --workload crawl_discover --seed 1 --seconds 10 --trace 0

Runs one benchmark run (``perfbench/crawl.py``) in a fresh process
group with the session sized from outside: ``local[nproc]``, driver
memory from ``SPARK_DRIVER_MEM`` (default 2g; the engine's own default
is sized for a much larger host), and every scratch path (Spark local
dir, warehouse, JVM and Python temp files, inputs) under
``.perfbench_work/`` in the checkout.  Every process of the group is
stopped and reaped before exit; the run's exit code is passed through.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_TIMEOUT_S = 170


def group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(pgid: int) -> None:
    """SIGTERM the group, SIGKILL what is left after 10 s, wait until
    none of it runs."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "dart_xbrl_crawler_spark", "__init__.py")):
        print(f"perfbench: no dart_xbrl_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_DRIVER_MEM", "2g")
    env["SPARK_GRAFT_TMPFS"] = "0"  # the local dir is set in the work dir
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    cmd = [sys.executable, "-m", "perfbench.crawl", *sys.argv[1:], "--work", WORK]

    def interrupted(signum, frame):
        raise KeyboardInterrupt  # unwinds to the finally below

    signal.signal(signal.SIGTERM, interrupted)
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        rc = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        rc = 3
    except KeyboardInterrupt:
        print("perfbench: interrupted", file=sys.stderr)
        rc = 4
    finally:
        stop_group(child.pid)
        child.wait()
    return rc


if __name__ == "__main__":
    sys.exit(main())
