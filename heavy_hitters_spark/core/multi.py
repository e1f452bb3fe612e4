"""MultiSketch: build several sketches over the same key stream in ONE
pass (the reference updates all hierarchy levels per record in one pass
— src/hh/sketch.c:113-135; this generalizes that to heterogeneous
sketches, e.g. CM + HLL + KLL + DyadicHH per column scan). Merge is
component-wise, so it inherits each component's invariance class."""

from __future__ import annotations

from .base import Sketch, frame, register, unframe


@register
class MultiSketch(Sketch):
    TYPE = "multi"
    IDENTITY = ("names",)

    def __init__(self, sketches: dict[str, Sketch]) -> None:
        self.sketches = dict(sketches)

    def __getitem__(self, name: str) -> Sketch:
        return self.sketches[name]

    @property
    def names(self) -> list[str]:
        return list(self.sketches)

    def update_batch(self, items, counts=None) -> None:
        for s in self.sketches.values():
            s.update_batch(items, counts)

    def _children(self) -> list[Sketch]:
        return list(self.sketches.values())

    def _merge(self, other: "MultiSketch") -> "MultiSketch":
        for a, b in zip(self._children(), other._children()):
            a._merge(b)
        return self

    def _header(self):
        return {"names": list(self.sketches.keys())}

    def _payload(self) -> bytes:
        return frame(s.to_bytes() for s in self.sketches.values())

    @classmethod
    def _from_parts(cls, header, payload) -> "MultiSketch":
        names = header["names"]
        return cls({n: Sketch.from_bytes(b) for n, b in zip(names, unframe(payload, len(names)))})
