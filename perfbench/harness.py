"""Run context shared by the workloads: arguments, the work directory,
the Spark session's lifecycle, the timed loop, failure accounting and
the statistics the result line is built from.

Everything the benchmark writes lives under ``.perfbench_work/`` at the
root of the checkout; the run's own sub-directory is removed when the
run ends.
"""

from __future__ import annotations

import argparse
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3
# Every timed loop runs at least this many operations, so that a run's
# median never rests on one operation.
MIN_OPS = 2
# Stop the timed loop early after this many failed operations in a row:
# a dead session would otherwise spin until the time budget runs out.
MAX_CONSECUTIVE_FAILURES = 3


def parse_args(argv):
    p = argparse.ArgumentParser(
        prog="perfbench/run.py",
        description="Seeded ingest / query / maintain benchmark of the "
        "pyhctsa_spark engine.",
    )
    p.add_argument("--workload", required=True,
                   choices=("ingest", "query", "maintain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="timed operation seconds to measure")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0,
                   help="1: per-layer run (event log + job-group spans)")
    return p.parse_args(argv)


def program_present() -> bool:
    return (ROOT / "pyhctsa_spark" / "__init__.py").is_file()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def dir_bytes(path: Path, skip_prefixes: tuple[str, ...] = ()) -> int:
    """Bytes of the data files under ``path`` (Spark's ``.crc`` and
    ``_SUCCESS`` markers excluded; top-level entries starting with one of
    ``skip_prefixes`` skipped)."""
    total = 0
    if not path.exists():
        return 0
    for dp, dns, fns in os.walk(path):
        if Path(dp) == path:
            dns[:] = [d for d in dns if not d.startswith(skip_prefixes)]
        for fn in fns:
            if fn.endswith(".crc") or fn.startswith(("_SUCCESS", ".")):
                continue
            total += os.path.getsize(os.path.join(dp, fn))
    return total


class Run:
    """One benchmark invocation: owns the work directory, the Spark
    session and the failure tally."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = os.cpu_count() or 1
        self.dir = WORK / f"{self.workload}-s{self.seed}-p{os.getpid()}"
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self._sessions = 0

    # -- environment -------------------------------------------------------
    def prepare(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog"):
            (self.dir / sub).mkdir(parents=True, exist_ok=True)
        # Python workers are separate processes started by the JVM; they
        # find the package only through PYTHONPATH, which the JVM inherits
        # from this process when the gateway is launched.
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
        sys.path.insert(0, str(ROOT))
        # session.py defaults the driver heap to 24g; everything here is
        # small, and the host may have far less memory than that.
        os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.dir / "spark-local")
        os.environ["TMPDIR"] = str(self.dir / "tmp")

    def env_line(self) -> str:
        import numpy
        import pyarrow
        import pyspark

        return (
            f"env nproc={self.nproc} spark={pyspark.__version__} "
            f"pyarrow={pyarrow.__version__} numpy={numpy.__version__} "
            f"python={platform.python_version()} "
            f"driver_mem={os.environ['SPARK_DRIVER_MEM']} "
            f"master=local[{self.nproc}]"
        )

    # -- session -----------------------------------------------------------
    def start_session(self, event_log: bool = False) -> float:
        """Start a SparkSession (the first call launches the JVM) and
        return the seconds it took."""
        from pyhctsa_spark.session import get_spark

        t0 = time.perf_counter()
        self._sessions += 1
        conf = {
            "spark.local.dir": str(self.dir / "spark-local"),
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.dir / 'tmp'} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if event_log else "false",
            "spark.eventLog.dir": (self.dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        self.spark = get_spark(
            f"perfbench-{self.workload}-{self._sessions}",
            master=f"local[{self.nproc}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop the SparkContext (flushes the event log); the JVM stays
        up for the next session."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log_file(self) -> Path | None:
        files = sorted(
            p for p in (self.dir / "eventlog").iterdir()
            if p.is_file() and not p.name.endswith(".inprogress")
        )
        return files[-1] if files else None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the work dir."""
        try:
            self.stop_session()
        finally:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                try:
                    gw.shutdown()
                finally:
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                    if proc is not None:
                        # the JVM exits when its stdin pipe closes
                        if proc.stdin is not None:
                            proc.stdin.close()
                        try:
                            proc.wait(timeout=60)
                        except subprocess.TimeoutExpired:
                            proc.kill()
                            proc.wait()
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                WORK.rmdir()  # only when no other run is using it
            except OSError:
                pass

    # -- failures ----------------------------------------------------------
    def record(self, ok: bool, what: str) -> bool:
        """Count one attempted operation; report it on stderr if it
        failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    # -- the timed loop ----------------------------------------------------
    @staticmethod
    def attempt(op, i: int) -> dict:
        """``op(i)``; an exception becomes a failed operation's record."""
        t0 = time.perf_counter()
        try:
            return op(i)
        except Exception as e:  # one failed operation; keep measuring
            traceback.print_exc(file=sys.stderr)
            return {"t": time.perf_counter() - t0,
                    "errors": [f"op {i} raised {e!r}"[:300]]}

    def timed_loop(self, op, first: int, multiple: int,
                   seconds: float) -> list[dict]:
        """Run ``op(i)``, i = first, first + 1, ..., until the timed
        ``seconds`` are reached, at least MIN_OPS passes are done, and the
        call count is a multiple of ``multiple`` (whole passes of a
        workload's operation mix, so every run weighs its kinds alike).

        ``op`` returns a record with ``t`` (the seconds it timed; its
        own untimed checks excluded) and ``errors`` (failed checks). An
        exception counts as a failed operation. Failures are counted by
        ``tally`` once the workload's post-loop checks have run too.
        """
        recs: list[dict] = []
        spent = 0.0
        wall0 = time.perf_counter()
        streak = 0
        while (spent < seconds or len(recs) < MIN_OPS * multiple
               or len(recs) % multiple):
            rec = self.attempt(op, first + len(recs))
            recs.append(rec)
            spent += rec["t"]
            streak = streak + 1 if rec["errors"] else 0
            if streak >= MAX_CONSECUTIVE_FAILURES:
                break
            # hard wall-clock guard: untimed checks count here
            if time.perf_counter() - wall0 > 4 * seconds + 30:
                break
        return recs

    def tally(self, recs: list[dict], label: str) -> None:
        for i, rec in enumerate(recs):
            self.record(not rec["errors"],
                        f"{label} op {i}: " + "; ".join(rec["errors"]))
