"""Spans around calls into the engine's public per-turn functions.

``Tracer.install()`` wraps the module attributes ``pipeline.extract_turn``
resolves at call time (its imports run inside the function body), so a
plain ``pipeline.extract_turn(text, features)`` call records one span per
layer call with no change to the engine.  Spans are ``[name, start_ns,
end_ns, parent index, turn id]`` rows kept in memory; ``dump`` writes them
as JSON.
"""

from __future__ import annotations

import importlib
import json
import time

# (module, attribute, span name); the first is the root span of a turn
LAYERS = (
    ("xponents_spark.pipeline", "extract_turn", "pipeline.extract_turn"),
    ("xponents_spark.textract", "extract_main_content",
     "textract.extract_main_content"),
    ("xponents_spark.extractors.xcoord", "extract_coordinates",
     "extractors.xcoord.extract_coordinates"),
    ("xponents_spark.extractors.xtemporal", "extract_dates",
     "extractors.xtemporal.extract_dates"),
    ("xponents_spark.extractors.poli", "extract_poli",
     "extractors.poli.extract_poli"),
    ("xponents_spark.gazetteer", "geocode", "gazetteer.geocode"),
    ("xponents_spark.gazetteer.spatial", "reverse_geocode",
     "gazetteer.spatial.reverse_geocode"),
)


def _count(out) -> tuple[int, int]:
    """(returned, kept) for a layer's return value."""
    if isinstance(out, list):
        kept = sum(1 for m in out if not (
            m.get("filtered_out") if isinstance(m, dict)
            else getattr(m, "filtered_out", False)))
        return len(out), kept
    return 0, 0


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.counts: dict[str, list[int]] = {}
        self.turn = 0
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    def _wrap(self, name: str, fn):
        spans, stack = self.spans, self._stack
        counts = self.counts.setdefault(name, [0, 0])
        clock = time.perf_counter_ns

        def traced(*args, **kwargs):
            idx = len(spans)
            spans.append([name, 0, 0, stack[-1] if stack else -1, self.turn])
            stack.append(idx)
            t0 = clock()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = clock()
                stack.pop()
                spans[idx][1] = t0
                spans[idx][2] = t1
            n, kept = _count(out)
            counts[0] += n
            counts[1] += kept
            return out
        return traced

    def install(self):
        for mod_name, attr, name in LAYERS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(name, fn))
        return self

    def uninstall(self):
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def summary(self, turns: int) -> dict:
        """Per-layer busy time per turn, counts and the root's self time."""
        busy: dict[str, int] = {}
        calls: dict[str, int] = {}
        child_ns = 0
        root = LAYERS[0][2]
        for name, t0, t1, parent, _turn in self.spans:
            busy[name] = busy.get(name, 0) + (t1 - t0)
            calls[name] = calls.get(name, 0) + 1
            if parent >= 0 and self.spans[parent][0] == root:
                child_ns += t1 - t0
        out = {}
        for _m, _a, name in LAYERS:
            out[name] = {"us_per_turn": busy.get(name, 0) / 1e3 / turns,
                         "calls": calls.get(name, 0),
                         "returned": self.counts.get(name, [0, 0])[0],
                         "kept": self.counts.get(name, [0, 0])[1]}
        out["self_us_per_turn"] = (busy.get(root, 0) - child_ns) / 1e3 / turns
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["name", "start_ns", "end_ns", "parent",
                                  "turn"], "spans": self.spans}, fh)
