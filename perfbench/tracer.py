"""Layer tracer: spans and counters recorded from outside the library.

The tracer wraps public functions of the package's modules and
replaces every module-level binding of each one, so a call through
``from .snapshots import read_manifest_list`` in ``commit.py`` is seen
as well as a call through ``snapshots.read_manifest_list``. A wrapper
returns what the wrapped function returns and raises what it raises.

Two kinds of wrapper exist:

* a **span** wrapper records ``name, start, end, parent, op`` for each
  call made while an operation is open;
* a **light** wrapper, for functions called once per value (bound
  decoding) or per record (the Avro record iterator), only adds its
  time and call count to counters and to the ``light_s`` of the
  innermost open span, so it does not allocate a span per call.

Both count only the outermost call of a layer: a layer's ``.s`` is its
inclusive time, never counted twice when the layer calls itself.

Self time of a span is its duration minus the union of its child
spans' intervals and minus the light time charged to it. Work that
runs in Spark executors (``manifest_io``'s parallel manifest parse,
Python UDF kernels) is not visible to these wrappers: it shows in the
``spark.task_*`` and ``functions.*`` metrics instead.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from typing import Any

PKG = "iceberg_tools_spark"


class Tracer:
    """Spans and counters of one benchmark run, kept in memory."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[dict[str, Any]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.enabled = False
        self._local = threading.local()
        self._op_span: int | None = None
        self._patches: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _active_layers(self) -> dict[str, int]:
        layers = getattr(self._local, "layers", None)
        if layers is None:
            layers = self._local.layers = defaultdict(int)
        return layers

    def _parent(self) -> int | None:
        st = self._stack()
        return st[-1] if st else self._op_span

    def open(self, name: str, op: Any = None, **attrs: Any) -> int:
        """Start a span; the first span with ``op`` set is an operation
        root and parents spans opened from other threads."""
        parent = self._parent()
        idx = len(self.spans)
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        self.spans.append({
            "name": name, "start": self.clock(), "end": None,
            "parent": parent, "op": op, "light_s": 0.0, **attrs,
        })
        self._stack().append(idx)
        if parent is None:
            self._op_span = idx
        return idx

    def close(self, idx: int) -> dict[str, Any]:
        span = self.spans[idx]
        span["end"] = self.clock()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()
        elif idx in st:
            st.remove(idx)
        if self._op_span == idx:
            self._op_span = None
        return span

    def layer_active(self, layer: str) -> bool:
        return self._active_layers()[layer] > 0

    def add(self, key: str, value: float = 1.0) -> None:
        self.counters[key] += value

    def _light_enter(self) -> bool:
        """True when no light timing is already running on this
        thread (only the outermost one is charged to the span)."""
        depth = getattr(self._local, "light_depth", 0)
        self._local.light_depth = depth + 1
        return depth == 0

    def _light_exit(self, layer: str, seconds: float, outermost: bool) -> None:
        self._local.light_depth -= 1
        self.counters[f"{layer}.s"] += seconds
        if outermost:
            parent = self._parent()
            if parent is not None:
                self.spans[parent]["light_s"] += seconds

    # -------------------------------------------------------- wrappers

    def span_wrapper(
        self,
        layer: str,
        fn: Callable,
        on_return: Callable[["Tracer", tuple, dict, Any, Any], None] | None = None,
        before: Callable[[tuple, dict], Any] | None = None,
    ) -> Callable:
        """Wrap ``fn`` so each outermost call of ``layer`` made while
        tracing is on records a span and ``<layer>.calls``/``.s``.
        ``on_return(tracer, args, kwargs, result, state)`` runs after a
        traced call returns, with ``state = before(args, kwargs)``."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer.layer_active(layer):
                return fn(*args, **kwargs)
            state = before(args, kwargs) if before is not None else None
            layers = tracer._active_layers()
            layers[layer] += 1
            idx = tracer.open(f"{layer}:{fn.__name__}", layer=layer)
            try:
                result = fn(*args, **kwargs)
            finally:
                span = tracer.close(idx)
                layers[layer] -= 1
                tracer.add(f"{layer}.calls")
                tracer.add(f"{layer}.s", span["end"] - span["start"])
            if on_return is not None:
                on_return(tracer, args, kwargs, result, state)
            return result

        wrapper.__wrapped_by_tracer__ = fn
        return wrapper

    def light_wrapper(self, layer: str, fn: Callable) -> Callable:
        """Wrap a per-value function: counters only, no span."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer.layer_active(layer):
                return fn(*args, **kwargs)
            layers = tracer._active_layers()
            layers[layer] += 1
            outermost = tracer._light_enter()
            t0 = tracer.clock()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._light_exit(layer, tracer.clock() - t0, outermost)
                layers[layer] -= 1
                tracer.add(f"{layer}.calls")

        wrapper.__wrapped_by_tracer__ = fn
        return wrapper

    def iterator_wrapper(self, layer: str, fn: Callable, count_key: str) -> Callable:
        """Wrap a generator function: time spent producing items is
        light time of ``layer``; each item adds one to ``count_key``."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            it = fn(*args, **kwargs)
            if not tracer.enabled:
                return it
            return tracer._timed_iter(layer, it, count_key)

        wrapper.__wrapped_by_tracer__ = fn
        return wrapper

    def _timed_iter(self, layer: str, it: Iterator, count_key: str) -> Iterator:
        while True:
            outermost = self._light_enter()
            t0 = self.clock()
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                self._light_exit(layer, self.clock() - t0, outermost)
            self.add(count_key)
            yield item

    # ---------------------------------------------------------- patching

    def patch_function(self, fn: Callable, wrapper: Callable) -> int:
        """Replace every module-level binding of ``fn`` in the loaded
        modules of the package with ``wrapper``; returns how many."""
        n = 0
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._patches.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)
                    n += 1
        return n

    def patch_attr(self, owner: Any, attr: str, wrapper: Any) -> None:
        """Replace one attribute (a method on a class)."""
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------------- analysis

    def self_times(self) -> list[float]:
        """Self time of every span: duration minus the union of its
        children's intervals minus light time charged to it."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                out.append(0.0)
                continue
            covered = union_length(children.get(i, []), s["start"], s["end"])
            out.append(s["end"] - s["start"] - covered - s["light_s"])
        return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def public_functions(module: Any) -> list[Callable]:
    """Functions defined in ``module`` whose names do not start with
    an underscore."""
    return [
        v for k, v in vars(module).items()
        if not k.startswith("_") and inspect.isfunction(v) and v.__module__ == module.__name__
    ]
