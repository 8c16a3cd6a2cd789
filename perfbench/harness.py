"""Spark session lifecycle, timed set-up and timed passes.

All files the benchmark or Spark writes go under one work directory
inside the checkout; the caller removes it at exit.
"""

from __future__ import annotations

import os
import shutil
import time

from eventlog import SPAN_PROPERTY
from procs import RssSampler
from spans import Tracer

MIN_PASSES = 3
DRIVER_MEM = "2g"


class Harness:
    def __init__(self, work: str, cores: list, seconds: float, run_id: str):
        self.work = work
        self.cores = cores
        self.seconds = seconds
        self.spark = None
        self.event_log: str | None = None  # of the last traced session
        self.tracer = Tracer(run_id, enabled=False, on_enter=self._tag_jobs)
        self.rss = RssSampler()
        for sub in ("tmp", "local", "warehouse", "input"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        # the JVM, the Python workers and anything they spill inherit these
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session -------------------------------------------------------
    def start(self, n_cores: int | None = None, event_log: bool = False):
        """(Re)start the session on ``local[n_cores]`` (all cores by
        default), optionally writing an uncompressed event log."""
        from memo_fraktur_ocr_code_spark.session import get_spark

        self.stop()
        tmp = self.path("tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # a fixed, pre-touched heap keeps the JVM's resident size from
            # following the collector's sizing decisions run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
        }
        if event_log:
            log_dir = self.event_log = self.path("eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{log_dir}",
                    "spark.eventLog.compress": "false",
                }
            )
        n = n_cores or len(self.cores)
        self.spark = get_spark(
            master=f"local[{n}]",
            app_name="perfbench",
            # the session factory's own rule for a local[n] session, at
            # the all-core n for every level
            shuffle_partitions=max(len(self.cores), 8),
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.enabled = event_log
        return self.spark

    def warm_up(self) -> None:
        self.spark.range(1 << 16).selectExpr("sum(id)", "count(*)").collect()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        self.stop()
        shutil.rmtree(self.work, ignore_errors=True)

    def _tag_jobs(self, span_id) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    # -- timing --------------------------------------------------------
    def timed_setups(self, build, repeats: int) -> list[float]:
        """Run start + warm-up + ``build()`` ``repeats`` times; returns
        each one's wall time.  The last one's session stays open."""
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            self.start()
            self.warm_up()
            build()
            times.append(time.perf_counter() - t0)
        return times

    def passes(self, one_pass, seconds: float | None = None,
               min_passes: int = MIN_PASSES) -> list[float]:
        """Repeat ``one_pass`` until ``seconds`` have passed and at least
        ``min_passes`` ran; returns each pass's wall time."""
        seconds = self.seconds if seconds is None else seconds
        times: list[float] = []
        t_start = time.perf_counter()
        while len(times) < min_passes or time.perf_counter() - t_start < seconds:
            t0 = time.perf_counter()
            one_pass()
            times.append(time.perf_counter() - t0)
        return times
