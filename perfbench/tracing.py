"""Span tracing for the traced (`--trace 1`) run, from outside the engine.

`Tracer.install()` wraps the public functions `plans.epoch` calls --
`CrawlEngine.step/bootstrap`, the `CheckpointStore` methods, the
`politeness.*` functions and `dedup.dedup_candidates` -- plus
`session.get_spark`. Each wrapper records an in-memory span (name, start,
end, parent) and, while it runs, sets the Spark local property
`perfbench.span` to its span id, so every Spark job an action starts inside
it carries the id into the event log.

Attribution rule: Spark is lazy. A wrapper around a function that only
returns a DataFrame times plan construction; the execution of that plan is
charged to whichever span runs the action (the innermost span active when
`count`/`collect`/`write` is called). `reduce_event_log` applies the same
rule to executor time, scheduler delay, shuffle bytes, spill and failures.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"

# layer of each traced span name (the module the wrapped function lives in)
LAYER_OF = {
    "session.get_spark": "session",
    "epoch.step": "epoch",
    "epoch.bootstrap": "epoch",
    "op.bootstrap": "epoch",
    "op.drain": "epoch",
    "politeness.compute_budgets": "politeness",
    "politeness.grant": "politeness",
    "politeness.apply_robots_gate": "politeness",
    "dedup.dedup_candidates": "dedup",
    "checkpoint.write": "checkpoint",
    "checkpoint.read_snapshot": "checkpoint",
    "checkpoint.read_deltas": "checkpoint",
    "checkpoint.compact_deltas": "checkpoint",
    "checkpoint.commit": "checkpoint",
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. `enabled=False` makes `span` a plain
    context manager that records nothing and touches no Spark property, so
    the untraced run pays nothing for the workloads' own span calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    # ------------------------------------------------------------ spans
    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        self._set_property(str(sp.sid))
        return sp

    def _close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        self._stack.pop()
        self._set_property(str(self._stack[-1]) if self._stack else None)

    def _set_property(self, value: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, value)

    # ------------------------------------------------------------ patching
    def install(self) -> None:
        """Wrap the engine's public layer entry points (traced run only)."""
        if not self.enabled:
            return
        from gsccca_tax_records_scraper_spark.operators import dedup, politeness
        from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine
        from gsccca_tax_records_scraper_spark.sources.checkpoint import CheckpointStore

        targets = [
            (CrawlEngine, "step", "epoch.step"),
            (CrawlEngine, "bootstrap", "epoch.bootstrap"),
            (politeness, "compute_budgets", "politeness.compute_budgets"),
            (politeness, "grant", "politeness.grant"),
            (politeness, "apply_robots_gate", "politeness.apply_robots_gate"),
            (dedup, "dedup_candidates", "dedup.dedup_candidates"),
            (CheckpointStore, "write", "checkpoint.write"),
            (CheckpointStore, "read_snapshot", "checkpoint.read_snapshot"),
            (CheckpointStore, "read_deltas", "checkpoint.read_deltas"),
            (CheckpointStore, "compact_deltas", "checkpoint.compact_deltas"),
            (CheckpointStore, "commit", "checkpoint.commit"),
        ]
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # ------------------------------------------------------------ queries
    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def descendants(self, sid: int) -> set[int]:
        out: set[int] = {sid}
        for s in self.spans:  # spans are appended in start order
            if s.parent in out:
                out.add(s.sid)
        return out

    def within(self, roots: list[Span], name: str) -> list[Span]:
        """Spans called `name` under any of `roots` (inclusive)."""
        ids: set[int] = set()
        for r in roots:
            ids |= self.descendants(r.sid)
        return [s for s in self.spans if s.sid in ids and s.name == name]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.sp: Span | None = None

    def __enter__(self):
        self.sp = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc):
        self.tracer._close(self.sp)
        return False


# ------------------------------------------------------------ event log
@dataclass
class SparkCost:
    jobs: int = 0
    stages: int = 0
    executor_run_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_failures: int = 0

    def add(self, other: "SparkCost") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def reduce_event_log(log_dir: str, app_id: str) -> dict[int | None, SparkCost]:
    """Spark cost per span id (None = jobs started outside any span) from
    the application's event log. Scheduler delay follows the Spark UI's
    definition: task duration minus executor run, deserialize, result
    serialization and getting-result time."""
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", app_id + "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith(".crc")
    ]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    stage_span: dict[int, int | None] = {}
    cost: dict[int | None, SparkCost] = {}

    def at(span):
        return cost.setdefault(span, SparkCost())

    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                prop = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                span = int(prop) if prop is not None else None
                at(span).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_span.setdefault(sid, span)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                at(stage_span.get(sid)).stages += 1
            elif kind == "SparkListenerTaskEnd":
                c = at(stage_span.get(ev["Stage ID"]))
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    c.task_failures += 1
                run_ms = m.get("Executor Run Time", 0)
                c.executor_run_s += run_ms / 1000.0
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                getting = info.get("Getting Result Time", 0)
                getting_ms = info.get("Finish Time", 0) - getting if getting else 0
                delay = (
                    dur - run_ms - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0) - getting_ms
                )
                c.scheduler_delay_s += max(0, delay) / 1000.0
                c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return cost
