"""Spark session and per-phase accounting, taken from outside the program.

Each benchmark-level call runs inside `Accounting.phase(name)`, which puts
its jobs in one job group and times it. In traced runs every pyspark parquet
write inside a phase gets its own job group labelled by the store
subdirectory it writes (docs, segments, postings, tstats, ...), and is timed.

Jobs, stages and tasks come from `sc.statusTracker()`. Executor run/CPU time
and shuffle bytes come from the Spark UI REST API, which only traced runs
switch on.
"""

from __future__ import annotations

import json
import os
import re
import socket
import sys
import time
import urllib.request
from contextlib import contextmanager

_STORE_SUBDIRS = ("docs", "segments", "postings", "tstats", "tombstones")


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def start_spark(work: str, cores: int, traced: bool):
    """The engine's own session factory (session.get_spark), local[cores],
    with every scratch path inside `work`."""
    from ucuddle_search_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no /tmp/hsperfdata_<user> file: the JVM writes nothing outside `work`
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": str(_free_port()),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session AND its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Accounting:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = traced
        self.cores = self.sc.defaultParallelism
        self.groups: dict[str, list[str]] = {}
        self.wall: dict[str, float] = {}
        self.write_s: dict[str, float] = {}
        self._phase: str | None = None
        if traced:
            self._label_writes()

    def _set_group(self, group: str) -> None:
        self.groups.setdefault(self._phase, []).append(group)
        self.sc.setJobGroup(group, group)

    @contextmanager
    def phase(self, name: str):
        self._phase = name
        self._set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._phase = None
            print(f"[perfbench] {name}: {time.perf_counter() - t0:.2f}s", file=sys.stderr,
                  flush=True)

    def _label_writes(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        acct = self
        orig = DataFrameWriter.parquet

        def parquet(writer, path, *a, **kw):
            if acct._phase is None:
                return orig(writer, path, *a, **kw)
            parts = re.split(r"[\\/]", str(path))
            sub = next((p for p in reversed(parts) if p in _STORE_SUBDIRS), "other")
            group = acct._phase
            acct._set_group(f"{group}:write:{sub}")
            t0 = time.perf_counter()
            try:
                return orig(writer, path, *a, **kw)
            finally:
                key = f"{group}.{sub}"
                acct.write_s[key] = acct.write_s.get(key, 0.0) + time.perf_counter() - t0
                acct._set_group(group)
        DataFrameWriter.parquet = parquet

    # -- reading the counts back ------------------------------------------
    def _api(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def jobs(self, name: str) -> list[int]:
        st = self.sc.statusTracker()
        return sorted({j for g in set(self.groups.get(name, ())) for j in st.getJobIdsForGroup(g)})

    def summary(self, name: str) -> dict:
        """wall/jobs/stages/tasks, plus exec time and shuffle when traced."""
        st = self.sc.statusTracker()
        jobs = self.jobs(name)
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran, tasks = [], 0
        for s in sorted(stages):
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                ran.append(s)
                tasks += info.numCompletedTasks
        out = {"wall_s": self.wall[name], "jobs": len(jobs), "stages": len(ran),
               "tasks": tasks}
        if self.traced:
            run_ms = cpu_ns = shuffle = 0
            for s in ran:
                for attempt in self._stage_attempts(s):
                    run_ms += attempt.get("executorRunTime", 0)
                    cpu_ns += attempt.get("executorCpuTime", 0)
                    shuffle += attempt.get("shuffleWriteBytes", 0)
            out.update({
                "exec_cpu_s": cpu_ns / 1e9,
                "overhead_s": self.wall[name] - run_ms / 1000.0 / self.cores,
                "shuffle_write_mb": shuffle / 2**20,
            })
        return out

    def _stage_attempts(self, sid: int) -> list[dict]:
        # the REST store is fed by an async listener: wait for completion
        for _ in range(50):
            got = self._api(f"stages/{sid}")
            if all(a.get("status") != "ACTIVE" for a in got):
                return got
            time.sleep(0.1)
        return got
