"""Per-SQL-execution records from ``SQLAppStatusStore`` (over py4j).

Calls such as ``run_month`` and ``curate`` run several layers inside one
Python call.  Spark records every SQL execution with its physical plan,
its jobs and its start and end, so the benchmark splits such a call by
attributing each execution to the sink it writes or the collect it
serves.
"""

from __future__ import annotations

import re


def executions(spark, after_id: int = -1) -> list[dict]:
    """Completed SQL executions with id > ``after_id``, oldest first."""
    from benchlib.trace import drain_listener_bus

    drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    out = []
    while it.hasNext():
        e = it.next()
        eid = int(e.executionId())
        if eid <= after_id:
            continue
        end = e.completionTime()
        if end.isEmpty():
            continue
        out.append(
            {
                "id": eid,
                "description": str(e.description()),
                "plan": str(e.physicalPlanDescription()),
                "start_ms": int(e.submissionTime()),
                "end_ms": int(end.get().getTime()),
                "jobs": [int(j) for j in _iter(e.jobs().keys())],
            }
        )
    out.sort(key=lambda r: r["id"])
    return out


def _iter(scala_set):
    it = scala_set.iterator()
    while it.hasNext():
        yield it.next()


def last_id(spark) -> int:
    ex = executions(spark)
    return ex[-1]["id"] if ex else -1


def _details(plan: str) -> list[tuple[str, list[str]]]:
    """The formatted plan's per-node detail blocks: (header, lines)."""
    blocks: list[tuple[str, list[str]]] = []
    for line in plan.splitlines():
        if re.match(r"^\(\d+\) ", line):
            blocks.append((line, []))
        elif blocks and line.strip():
            blocks[-1][1].append(line)
    return blocks


def sink(plan: str) -> str | None:
    """The output path an execution writes, or None for a collect."""
    for head, lines in _details(plan):
        if "InsertIntoHadoopFsRelationCommand" in head:
            for line in lines:
                if line.startswith("Arguments: "):
                    return line[len("Arguments: "):].split(",")[0].strip()
    return None


def duration_s(rec: dict) -> float:
    return (rec["end_ms"] - rec["start_ms"]) / 1000.0


def scans_of(plan: str, path_fragment: str) -> int:
    """File scans in a formatted physical plan whose location names
    ``path_fragment``."""
    return sum(
        1
        for head, lines in _details(plan)
        if re.search(r"\) Scan \w+", head)
        and any(line.startswith("Location:") and path_fragment in line for line in lines)
    )


def exchanges(plan: str) -> int:
    """Exchange operators in a plan string (shuffle and broadcast)."""
    return len(re.findall(r"\b(?:Shuffle|Broadcast)?Exchange\b", plan))
