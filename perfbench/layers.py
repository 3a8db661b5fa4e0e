"""Outside-in layer timing: wrappers around the program's public functions,
installed only for traced passes and removed afterwards.

* ``benchlib.load_timer`` -> one span per derivation build, and a build count;
* ``plans.iterative.iterate``, rebound where ``operators/graph.py``,
  ``graph_extra.py`` and ``density.py`` imported it -> calls, rounds (step
  calls), early exits (fewer step calls than the round budget) and seconds.

Spans carry name, kind, start, end (epoch seconds), parent span id and run
id. A span opened on a pool thread has no parent on that thread, so it is
parented to the query that is running (``root``).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import threading
import time

_ITERATE_HOMES = (
    "spark_ml_algo_lib_master_tongji_spark.plans.iterative",
    "spark_ml_algo_lib_master_tongji_spark.operators.graph",
    "spark_ml_algo_lib_master_tongji_spark.operators.graph_extra",
    "spark_ml_algo_lib_master_tongji_spark.operators.density",
)
_BENCHLIB = "spark_ml_algo_lib_master_tongji_spark.benchlib"


class Layers:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0.0) + value

    def record(self, name: str, kind: str, start: float, end: float, parent: int | None,
               sid: int | None = None) -> int:
        with self._lock:
            sid = sid or next(self._ids)
            self.spans.append(
                {"id": sid, "name": name, "kind": kind, "start": start, "end": end,
                 "parent": parent, "run": self.run_id}
            )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            self.record(name, kind, start, time.time(), parent, sid)

    # -- wrappers -----------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        if self._saved:
            return
        benchlib = importlib.import_module(_BENCHLIB)
        self._patch(benchlib, "load_timer", self._wrap_load_timer(benchlib.load_timer))
        for home in _ITERATE_HOMES:
            mod = importlib.import_module(home)
            if hasattr(mod, "iterate"):
                self._patch(mod, "iterate", self._wrap_iterate(mod.iterate))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrap_load_timer(self, orig):
        layers = self

        @contextlib.contextmanager
        def load_timer(name: str):
            layers.add("derive.builds", 1)
            with layers.span(f"derive:{name}", "derive"), orig(name):
                yield

        return load_timer

    def _wrap_iterate(self, orig):
        layers = self
        sig = inspect.signature(orig)

        @functools.wraps(orig)
        def iterate(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            step, budget = bound.arguments["step"], bound.arguments["n_iter"]
            rounds = 0

            def counted(state, i):
                nonlocal rounds
                rounds += 1
                return step(state, i)

            bound.arguments["step"] = counted
            t0 = time.perf_counter()
            try:
                with layers.span("iterate", "iterate"):
                    return orig(*bound.args, **bound.kwargs)
            finally:
                layers.add("iterative.calls", 1)
                layers.add("iterative.rounds", rounds)
                layers.add("iterative.early_exits", 1 if rounds < budget else 0)
                layers.add("iterative.s", time.perf_counter() - t0)

        return iterate
