"""Spans around the engine's public calls, recorded from outside.

``Tracer.install()`` replaces a fixed set of engine attributes with
timing wrappers for the life of the process; no engine file changes.
Each span sets the Spark job description to ``pb:<span id>:<name>``
while it is open (and restores the enclosing one on exit), so every
Spark job — including AQE's query-stage jobs, which inherit the
caller's local properties — can be attributed to the innermost span
that was open when it ran. Spans live in memory and are written out
once, at the end of the run.

Untraced runs use the same ``span`` calls for their own timed regions;
only ``install()`` and the job descriptions are skipped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

DESC_PREFIX = "pb:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # unix seconds, comparable with event-log timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def secs(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, tag_jobs: bool):
        self.sc = spark.sparkContext
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.conflicts = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = Span(
            len(self.spans), name,
            self._stack[-1].id if self._stack else None, time.time(), attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self.tag_jobs:
            self.sc.setJobDescription(f"{DESC_PREFIX}{sp.id}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.tag_jobs:
                outer = self._stack[-1] if self._stack else None
                self.sc.setJobDescription(
                    f"{DESC_PREFIX}{outer.id}:{outer.name}" if outer else None
                )

    # ---------------------------------------------------------- wrappers
    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _timed(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = owner.__dict__[attr]

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the replay/table public calls with spans. The recon and
        checksum operators build lazy plans, so the benchmark opens
        their spans around the eager steps itself."""
        from etl_reconciliate_spark.plans.checkpoint import CheckpointManager
        from etl_reconciliate_spark.streaming import runner
        from etl_reconciliate_spark.target.table import CommitConflictError, TargetTable

        tracer = self
        source_cls = runner.ChangeLogSource

        class TimedSource(source_cls):
            def __init__(self, *a, **kw):
                with tracer.span("sources.open"):
                    super().__init__(*a, **kw)

        self._patch(runner, "ChangeLogSource", TimedSource)
        self._timed(runner, "replay", "runner.replay",
                    lambda sp, out: sp.attrs.update(events=out["events"]))
        self._timed(CheckpointManager, "plan_slices", "plans.plan_slices")
        self._timed(TargetTable, "merge_apply", "table.merge_apply")
        self._timed(TargetTable, "compact", "table.compact")
        self._timed(TargetTable, "expire_snapshots", "table.expire")
        self._timed(TargetTable, "count_live", "table.count_live",
                    lambda sp, out: sp.attrs.update(live=out))

        once = TargetTable.__dict__["_merge_apply_once"]

        @functools.wraps(once)
        def merge_once(*a, **kw):
            try:
                return once(*a, **kw)
            except CommitConflictError:
                tracer.conflicts += 1
                raise

        self._patch(TargetTable, "_merge_apply_once", merge_once)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def span_id(description: str | None) -> int | None:
    """Span id encoded in a job description set by :class:`Tracer`."""
    if not description or not description.startswith(DESC_PREFIX):
        return None
    return int(description[len(DESC_PREFIX):].split(":", 1)[0])
