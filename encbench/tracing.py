"""In-process traced replay of a workload's row groups.

Spans wrap the engine's functions at each layer boundary (arrow_chunk ->
chunk -> codecs) by rebinding the module attributes the engine calls
through, so a codec span nests under the chunk and arrow_chunk spans that
caused it and self time falls out of the nesting.  Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import math
import time
from collections import defaultdict

import pyarrow as pa

from parquetjs_spark import arrow_chunk, chunk
from parquetjs_spark.codecs import (
    bloom, bss, compress, dictionary, for_bp, fsst, rle, util,
)
from parquetjs_spark.pipeline import DEFAULT_CHUNK_ROWS


def _in_bytes(args, kwargs, out):
    return len(args[0]) if args else 0


def _selector_hit(args, kwargs, out):
    return 1 if out[1].get("cached") else 0


# (module, attribute, span name, what to add to the span's "n" field)
_TARGETS = [
    (arrow_chunk, "encode_arrow_column", "arrow_chunk.encode_arrow_column", None),
    (arrow_chunk, "decode_arrow_column", "arrow_chunk.decode_arrow_column", None),
    (arrow_chunk, "verify_arrow", "arrow_chunk.verify_arrow", None),
    (arrow_chunk, "_select_string_codec", "chunk.selector", _selector_hit),
    (chunk, "select_codec", "chunk.selector", _selector_hit),
    (chunk, "_encode_values", "chunk.dispatch.encode", None),
    (chunk, "_decode_values", "chunk.dispatch.decode", None),
    (compress, "auto_compress", "codecs.compress.auto_compress", _in_bytes),
    (compress, "size_estimate", "codecs.compress.size_estimate", _in_bytes),
    (compress, "decompress", "codecs.compress.decompress", None),
    (fsst, "train", "codecs.fsst.train", None),
    (fsst, "compress", "codecs.fsst.compress", _in_bytes),
    (fsst, "decompress", "codecs.fsst.decompress", None),
    (bloom, "hash_bytes_arrays", "codecs.bloom", None),
    (bloom, "hash_ints", "codecs.bloom", None),
    (bloom, "build_from_hashes", "codecs.bloom", None),
    (rle, "encode", "codecs.rle.encode", None),
    (rle, "decode", "codecs.rle.decode", None),
    (dictionary, "encode", "codecs.dictionary.encode", None),
    (dictionary, "decode", "codecs.dictionary.decode", None),
    (for_bp, "encode", "codecs.for_bp.encode", None),
    (for_bp, "decode", "codecs.for_bp.decode", None),
    (bss, "encode", "codecs.bss.encode", None),
    (bss, "decode", "codecs.bss.decode", None),
    # rle and for_bp imported pack_bits by name: rebind it there too
    (util, "pack_bits", "codecs.util.pack_bits", None),
    (rle, "pack_bits", "codecs.util.pack_bits", None),
    (for_bp, "pack_bits", "codecs.util.pack_bits", None),
]


class Tracer:
    """Span recorder.  A span is (name, start, end, parent, run, n)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    def span(self, name: str, fn, count=None):
        def wrapper(*args, **kwargs):
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = [name, time.perf_counter(), None, parent, self.run_id, 0]
            self.spans.append(rec)
            self._stack.append(sid)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._stack.pop()
                rec[2] = time.perf_counter()
            if count is not None:
                rec[5] = count(args, kwargs, out)
            return out

        return wrapper

    def __enter__(self):
        for mod, attr, name, count in _TARGETS:
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self.span(name, orig, count))
        return self

    def __exit__(self, *exc):
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (a Spark pipeline call)."""
        self.spans.append([name, start, end, None, self.run_id, 0, attrs])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = dict(zip(("name", "start", "end", "parent", "run", "n"), s))
                rec["id"] = i
                if len(s) > 6:
                    rec.update(s[6])
                f.write(json.dumps(rec) + "\n")

    def rollup(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, self seconds, n."""
        child = defaultdict(float)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "self_s": 0.0, "n": 0}
        )
        for i, s in enumerate(self.spans):
            if s[2] is None or len(s) > 6:
                continue
            # a trial compression run by size_estimate is selector work,
            # not a chunk's real compression: keep the two apart
            name = s[0]
            if name == "codecs.compress.auto_compress" and s[3] is not None and (
                self.spans[s[3]][0] == "codecs.compress.size_estimate"
            ):
                name += ".trial"
            r = out[name]
            r["calls"] += 1
            r["s"] += s[2] - s[1]
            r["self_s"] += s[2] - s[1] - child[i]
            r["n"] += s[5]
        return out


def partitions(n_rows: int, parts: int) -> list[tuple[int, int]]:
    """Row ranges of the input partitions (createDataFrame's even slicing)."""
    step = math.ceil(n_rows / parts)
    return [(lo, min(n_rows, lo + step)) for lo in range(0, n_rows, step)]


def replay(table: pa.Table, dtypes: dict[str, str], lo: int, hi: int) -> dict:
    """Encode, decode and verify rows [lo, hi) of ``table`` as one encode
    task would: chunk_rows-row groups, one selector state per column."""
    states = {c: {} for c in dtypes}
    part = table.slice(lo, hi - lo)
    blobs, codecs = [], []
    for start in range(0, part.num_rows, DEFAULT_CHUNK_ROWS):
        rb = part.slice(start, DEFAULT_CHUNK_ROWS)
        for c, dt in dtypes.items():
            blob, stats = arrow_chunk.encode_arrow_column(
                rb.column(c).combine_chunks(), dt, fsst_state=states[c]
            )
            blobs.append((blob, stats["sha256"]))
            codecs.append((start // DEFAULT_CHUNK_ROWS, c, stats["codec"],
                           stats["compression"], stats["encoded_bytes"]))
    for blob, _ in blobs:
        arrow_chunk.decode_arrow_column(blob)
    bad = sum(not arrow_chunk.verify_arrow(blob, sha) for blob, sha in blobs)
    return {"chunks": codecs, "verify_failures": bad}

