"""Tracing for the benchmark's traced runs, installed from outside the package.

* ``Py4jCounter`` counts py4j round trips by wrapping the gateway client's
  ``send_command``.  Object-release commands are not counted: Python's
  garbage collector sends them whenever it runs, so they would make the
  count differ between identical runs.
* ``phase`` labels every Spark job launched inside it with a job group
  ``<pass>|<op>|<phase>``, so the event log attributes jobs to the op and
  to its build / plan / exec phase.
* ``read_event_log`` folds a Spark event log into per-group job, stage,
  task and task-metric totals.
"""

from __future__ import annotations

import contextlib
import json
import os
from collections import defaultdict

from py4j.protocol import MEMORY_COMMAND_NAME


class Py4jCounter:
    def __init__(self, spark) -> None:
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counting(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                self.calls += 1
            return self._orig(command, *args, **kwargs)

        self._client.send_command = counting

    def remove(self) -> None:
        self._client.send_command = self._orig


@contextlib.contextmanager
def phase(spark, group: str | None):
    """Run the body under job group ``group`` (no-op when ``group`` is None)."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc._jsc.clearJobGroup()


# task-metric accumulables summed per group: event-log name -> (key, scale)
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("task_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    # SQL timing metric of the Python evaluation nodes (milliseconds)
    "time to run Python workers": ("python_s", 1e-3),
}
TOTAL_KEYS = ("jobs", "stages", "tasks") + tuple(dict.fromkeys(k for k, _ in _TASK_METRICS.values()))


def read_event_log(event_dir: str) -> dict[str, dict[str, float]]:
    """Totals per job group over every completed stage in ``event_dir``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TOTAL_KEYS, 0))
    for root, _dirs, files in os.walk(event_dir):
        for name in sorted(files):
            if name.startswith("appstatus_"):
                continue
            with open(os.path.join(root, name)) as fh:
                for line in fh:
                    if not line.startswith("{"):
                        continue
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        totals[group]["jobs"] += 1
                        for si in ev.get("Stage Infos", []):
                            stage_group[si["Stage ID"]] = group
                    elif kind == "SparkListenerStageCompleted":
                        si = ev["Stage Info"]
                        if si.get("Submission Time") is None or "Failure Reason" in si:
                            continue
                        t = totals[stage_group.get(si["Stage ID"], "")]
                        t["stages"] += 1
                        t["tasks"] += si.get("Number of Tasks", 0)
                        for acc in si.get("Accumulables", []):
                            spec = _TASK_METRICS.get(acc.get("Name"))
                            if spec is not None:
                                try:
                                    t[spec[0]] += float(acc.get("Value")) * spec[1]
                                except (TypeError, ValueError):
                                    pass
    return dict(totals)
