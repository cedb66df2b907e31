"""One query's posting blocks as numpy columns — the input format of the
block-max kernels (query/wand.py) and the positional phrase kernel
(query/phrase.py).

pandas stays at the edges: a fetched or Spark-batch block frame becomes
a :class:`Blocks` once, at kernel entry, and the kernels return plain
arrays.  Rows are sorted by (segment, term_id, first_docid), so every
segment, and every term within a segment, is one contiguous slice.

A block stores no score: a term's bound on it is w · ``max_tfc``
(:func:`impacts_max_tfc`), computed once per block source —
serve.local.LocalIndex on a cold read, cached with the term's blocks,
and the kernel entry (query.wand) per Spark batch.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd

from bzzz_spark.build.codec import (
    decode_blocks_batch,
    decode_positions,
    decode_varints,
    decode_zigzag,
)
from bzzz_spark.query.scoring import tf_component_np


class Blocks:
    """Posting blocks, one array per column.  ``gaps``/``tfs``/``dls``/
    ``positions`` and the ``dv`` streams are object arrays of the encoded
    bytes (``positions`` is None when the index stores none, and
    ``max_tfc`` when the frame carries no bounds)."""

    __slots__ = ("term_id", "segment", "first", "last", "count", "max_tfc",
                 "gaps", "tfs", "dls", "positions", "dv")

    def __init__(self, col: dict, rows=slice(None)):
        self.term_id = col["term_id"][rows]
        self.segment = col["segment"][rows]
        self.first = col["first_docid"][rows]
        self.last = col["last_docid"][rows]
        self.count = col["count"][rows]
        self.gaps = col["doc_gaps"][rows]
        self.tfs = col["tfs"][rows]
        self.dls = col["dls"][rows]
        mt, pos = col.get("max_tfc"), col.get("positions")
        self.max_tfc = None if mt is None else mt[rows]
        self.positions = None if pos is None else pos[rows]
        self.dv = {c[3:]: v[rows] for c, v in col.items() if c.startswith("dv_")}

    @classmethod
    def from_frame(cls, pdf: pd.DataFrame) -> "Blocks":
        """The one pandas → arrays conversion, sorted by (segment,
        term_id, first_docid)."""
        # pandas' own read-only column accessor: the public items() boxes
        # every column of a fresh frame in a Series first, ~0.2 ms per
        # 12-column frame — more than a small kernel's whole run
        col = {c: np.asarray(pdf._get_column_array(i))
               for i, c in enumerate(pdf.columns)}
        order = np.lexsort(
            (col["first_docid"], col["term_id"], col["segment"])
        )
        return cls(col, order)

    def _columns(self) -> dict:
        col = {"term_id": self.term_id, "segment": self.segment,
               "first_docid": self.first, "last_docid": self.last,
               "count": self.count, "doc_gaps": self.gaps, "tfs": self.tfs,
               "dls": self.dls}
        if self.max_tfc is not None:
            col["max_tfc"] = self.max_tfc
        if self.positions is not None:
            col["positions"] = self.positions
        col.update({f"dv_{c}": v for c, v in self.dv.items()})
        return col

    def segments(self) -> Iterator["Blocks"]:
        """One view per segment, in ascending segment order."""
        cuts = np.flatnonzero(np.diff(self.segment)) + 1
        if cuts.size == 0:
            yield self
            return
        col = self._columns()
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, self.segment.size]):
            yield Blocks(col, slice(int(lo), int(hi)))

    def rows(self, tid: int) -> np.ndarray:
        """Row indexes of one term's blocks (one segment), ascending
        first_docid."""
        lo = np.searchsorted(self.term_id, tid, "left")
        hi = np.searchsorted(self.term_id, tid, "right")
        return np.arange(lo, hi)

    def rows_of(self, tids) -> np.ndarray:
        """Row indexes of several terms' blocks, ascending first_docid
        (docids across terms overlap, so decoded docids are unsorted)."""
        r = np.flatnonzero(np.isin(self.term_id, np.fromiter(tids, np.int64)))
        return r[np.argsort(self.first[r], kind="stable")]

    def sizes(self) -> dict:
        """term_id → posting count, for the terms with blocks here (one
        segment)."""
        if self.term_id.size == 0:
            return {}
        starts = np.flatnonzero(np.r_[True, np.diff(self.term_id) != 0])
        return dict(zip(self.term_id[starts].tolist(),
                        np.add.reduceat(self.count, starts).tolist()))


def impacts_max_tfc(impacts, avgdl: float) -> np.ndarray:
    """Per block, the largest tf component of its impacts at this
    avgdl (varint (tf - 1, dl) pairs, build.codec.impact_frontier).
    The frontier holds the block's best posting and tf_component_np is
    the scores' own function, so w · max_tfc is the block's max score
    bit for bit, for any term weight w ≥ 0."""
    if len(impacts) == 0:
        return np.empty(0)
    buf = b"".join(impacts)
    lens = np.fromiter(map(len, impacts), dtype=np.int64)
    ends = (np.frombuffer(buf, dtype=np.uint8) < 0x80).astype(np.int64)
    pairs = np.add.reduceat(ends, np.cumsum(lens) - lens) // 2
    v = decode_varints(buf)
    tfc = tf_component_np(v[0::2] + 1, v[1::2], avgdl)
    return np.maximum.reduceat(tfc, np.cumsum(pairs) - pairs)


class Decoded(NamedTuple):
    d: np.ndarray  # docids, ascending within each block
    tf: np.ndarray
    dl: np.ndarray | None  # raw inline norms (0 = norms disabled)
    dv: dict  # field -> doc-values, one per posting
    pos: np.ndarray | None  # flat positions, split points cumsum(tf)


def decode(b: Blocks, rows: np.ndarray, dl: bool = True, dv: tuple = (),
           positions: bool = False) -> Decoded:
    """Decode the blocks at ``rows``, in row order, with one vectorized
    varint pass per stream across all of them (per-block calls cost
    ~0.1 ms of call overhead each).  The positions stream concatenates
    safely because each posting's first position is absolute."""
    d, tf = decode_blocks_batch(
        b.first[rows], b.count[rows], b.gaps[rows], b.tfs[rows]
    )
    return Decoded(
        d, tf,
        decode_varints(b"".join(b.dls[rows])) if dl else None,
        {c: decode_zigzag(b"".join(b.dv[c][rows])) for c in dv},
        decode_positions(b"".join(b.positions[rows]), tf)
        if positions else None,
    )


def overlapping(b: Blocks, rows: np.ndarray, cand: np.ndarray) -> np.ndarray:
    """The ``rows`` whose [first_docid, last_docid] range holds a docid
    of the sorted candidate array ``cand`` — block-granular leapfrog:
    every other row cannot contain a candidate and is never decoded."""
    lo = np.searchsorted(cand, b.first[rows], "left")
    hi = np.searchsorted(cand, b.last[rows], "right")
    return rows[hi > lo]


def tally(stats: dict | None, field: str, key, n: int) -> None:
    """Add ``n`` to a kernel stats counter: ``stats[field][key]``, or
    ``stats[field]`` itself when ``key`` is None."""
    if stats is None:
        return
    if key is None:
        stats[field] = stats.get(field, 0) + int(n)
    else:
        per = stats.setdefault(field, {})
        per[key] = per.get(key, 0) + int(n)
