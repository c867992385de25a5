"""Output checks. Each returns an error string, or None when the output is
correct. They take plain Python values, so the self-test can feed them
deliberately wrong outputs without a Spark session."""

from __future__ import annotations

import hashlib
import math

MIN_PRECISION_RECALL = 0.95  # the BASELINE.json triples invariant


def triples(found: set, golden: set) -> str | None:
    """P/R of the built (subj, pred, obj) set against the golden oracle."""
    if not found:
        return "no triples"
    hit = len(found & golden)
    precision, recall = hit / len(found), hit / max(1, len(golden))
    if min(precision, recall) < MIN_PRECISION_RECALL:
        return f"triples P={precision:.4f} R={recall:.4f} < {MIN_PRECISION_RECALL}"
    return None


def content_sha(documents: dict, corpus: dict) -> str | None:
    """Per-row sha256(content) preserved: ``documents`` maps (repo, path) to
    the stored content_sha, ``corpus`` maps (repo, path) to the input
    content."""
    if documents.keys() != corpus.keys():
        return f"documents rows {len(documents)} != corpus rows {len(corpus)}"
    for key, text in corpus.items():
        if documents[key] != hashlib.sha256(text.encode("utf-8")).hexdigest():
            return f"content_sha of {key} does not match sha256(content)"
    return None


def ranked(found: list, golden: list) -> str | None:
    """Top-k (rank, item_id) rankings must be identical."""
    got = sorted((int(r), str(i)) for r, i in found)
    want = sorted((int(r), str(i)) for r, i in golden)
    if not want:
        return "empty golden ranking"
    return None if got == want else f"ranking {got} != golden {want}"


def same_set(found: list, golden: list) -> str | None:
    if not golden:
        return "empty golden result"
    got, want = sorted(map(tuple, found)), sorted(map(tuple, golden))
    return None if got == want else f"{len(got)} rows != golden {len(want)} rows"


def digest(result) -> str:
    """Order-free digest of a search result: a string, or a list of rows."""
    if isinstance(result, str):
        body = result
    else:
        body = "\n".join(sorted(repr(tuple(row)) for row in result))
    return hashlib.sha256(body.encode("utf-8")).hexdigest()


def non_empty(result) -> str | None:
    return None if result else "empty search result"


def _norm(value):
    if isinstance(value, float):
        return "nan" if math.isnan(value) else f"{value:.9g}"
    return str(value)


def session_rows(found: list, oracle: list, key_index: int = 0) -> str | None:
    """The stream drain: non-empty, one row per session, and row-equal to
    the DuckDB oracle (column order must already match)."""
    if not found:
        return "stream drain returned no rows"
    keys = [row[key_index] for row in found]
    if len(set(keys)) != len(keys):
        return f"{len(keys) - len(set(keys))} duplicate session rows"
    got = sorted(tuple(_norm(v) for v in row) for row in found)
    want = sorted(tuple(_norm(v) for v in row) for row in oracle)
    if got != want:
        return f"{len(got)} session rows differ from the {len(want)} oracle rows"
    return None
