"""Guarded shuffle-width narrowing for hex id columns.

Two id kinds cross the engine's heavy exchanges as lowercase hex strings:

- ``SHA``: every provenance sha is ``sha2(content, 256)``, 64 hex chars. It
  rides the resolution joins, the triple dedup and every edge-family
  aggregation; as a 32-byte digest it removes ~25-30% of those exchanges'
  shuffle bytes.
- ``UUID``: every deterministic id is a uuid5 rendered ``8-4-4-4-12``
  (functions/ids.py), 36 chars. Chunk ids ride the contains/structural edge
  dedup exchanges as group KEYS; as 16 bytes they shed ~40% of the key bytes.

Hex doubles a digest's byte count and defeats lz4's match-based shuffle
compression (random hex has no repeats), and hash-table cost grows with key
width, so both cross as binary. A narrowed column is a (binary,
overflow-string) pair. A value converts only when it full-matches its kind's
guard, the exact canonical lowercase shape; everything else (test fixtures
like ``"sha1"``, ``repo:path`` container ids, uppercase variants, NULL) rides
the overflow string untouched. ``F.unhex`` yields NULL on any non-hex char,
so a value the guard admits but cannot convert (a trailing newline, which
``$`` allows) also lands on the overflow side. Hence narrow→widen is the
identity for ALL inputs, exactly one half is non-null per non-null input,
and distinct/groupBy over the pair equals distinct/groupBy over the
originals: the two classes are disjoint and the conversion is bijective on
its class (pinned by tests/test_sha.py and tests/test_ids.py).

Order facts ``sha_min`` relies on (pinned by tests/test_sha.py):
- fixed-length binary compares byte-lexicographically in Spark, and lowercase
  hex encoding is monotone per byte, so ``min`` over the binary column equals
  ``min`` over the original hex strings within the converted class;
- ``F.least`` skips NULLs, so ``least(widen(min(bin)), min(raw))`` is the min
  over the ORIGINAL strings even when a group mixes converted and overflow
  values.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Narrowing:
    """One id kind: its pair's column names and its dash-separated hex runs."""

    bin: str
    raw: str
    runs: tuple[int, ...]

    def narrow(self, col: Column) -> tuple[Column, Column]:
        """Split ``col`` into (binary, overflow-string) columns."""
        guard = "^" + "-".join(f"[0-9a-f]{{{n}}}" for n in self.runs) + "$"
        digits = F.translate(col, "-", "") if len(self.runs) > 1 else col
        bin_col = F.when(col.rlike(guard), F.unhex(digits))
        return bin_col, F.when(bin_col.isNull(), col)

    def widen(self, bin_col: Column, raw_col: Column) -> Column:
        """Reassemble the original string (bit-exact for all inputs)."""
        text = F.lower(F.hex(bin_col))
        if len(self.runs) > 1:
            pieces, pos = [], 1
            for n in self.runs:
                pieces += [F.lit("-"), F.substring(text, pos, n)]
                pos += n
            text = F.concat(*pieces[1:])
        return F.coalesce(text, raw_col)


SHA = Narrowing("_sha_bin", "_sha_raw", (64,))
UUID = Narrowing("_uuid_bin", "_uuid_raw", (8, 4, 4, 4, 12))


def sha_min_agg() -> tuple[Column, Column]:
    """The aggregate pair every narrowed min-provenance groupBy uses.

    ``agg(*sha_min_agg())`` keeps the shuffle on the narrow columns; feed the
    two results to :func:`sha_min` for the reconstructed-string minimum.
    """
    return F.min(SHA.bin).alias(SHA.bin), F.min(SHA.raw).alias(SHA.raw)


def sha_distinct(df: DataFrame) -> DataFrame:
    """``distinct()`` over a frame carrying the narrow sha pair, widened after.

    The dedup exchange moves the 32-byte digest; the output replaces the
    pair with a single ``content_sha`` string column in ``SHA.bin``'s
    position, other columns untouched.
    """
    out_cols: list[Column] = []
    for name in df.columns:
        if name == SHA.bin:
            out_cols.append(SHA.widen(F.col(SHA.bin), F.col(SHA.raw)).alias("content_sha"))
        elif name != SHA.raw:
            out_cols.append(F.col(name))
    return df.distinct().select(*out_cols)


def sha_min(bin_col: Column, raw_col: Column) -> Column:
    """``min(original sha)`` from pre-aggregated min(bin)/min(raw) columns —
    the shuffle carries the narrow pair, the final comparison happens on the
    reconstructed strings."""
    return F.least(SHA.widen(bin_col, F.lit(None).cast("string")), raw_col)
