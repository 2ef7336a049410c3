"""Expected knowledge-base content, computed in plain Python from the
generator's records, apart from the program under test.

The semantics are the reference's ``batch_train``: link A and B rows on
the scrubbed ``MAWB_HAWB`` key, keep waybills whose item counts are
equal on both sides, pair items by position (A by item number, B by item
sequence), normalise the declared description, and vote per source."""

from __future__ import annotations

import re
import unicodedata
from collections import Counter

_SCRUB = re.compile(r"[\s/-]")
_PUNCT = re.compile(r"[^\w\s]")
_WS = re.compile(r"\s+")


def normalize(text: str | None) -> str:
    """NFKC -> upper -> after the last '/' -> punctuation to space ->
    squeeze -> trim; None -> ""."""
    if text is None:
        return ""
    s = unicodedata.normalize("NFKC", text).upper().split("/")[-1]
    return _WS.sub(" ", _PUNCT.sub(" ", s)).strip()


def _key(mawb: str, hawb: str) -> str:
    return _SCRUB.sub("", mawb).upper() + "_" + _SCRUB.sub("", hawb).upper()


def votes(a_rows, b_rows) -> Counter:
    """(source, official, ccc) -> count over count-equal linked waybills.
    ``a_rows``: (mawb, hawb, item_no, description);
    ``b_rows``: (mawb, hawb, item_sequence, official, ccc)."""
    norm: dict[str, str] = {}
    a: dict[str, list] = {}
    for mawb, hawb, item, desc in a_rows:
        if mawb is None or hawb is None or desc is None:
            continue
        src = norm.get(desc)
        if src is None:
            src = norm[desc] = normalize(desc)
        a.setdefault(_key(mawb, hawb), []).append((item, src))
    b: dict[str, list] = {}
    for mawb, hawb, seq, off, ccc in b_rows:
        if mawb is None or hawb is None:
            continue
        b.setdefault(_key(mawb, hawb), []).append((seq, off, ccc))
    out: Counter = Counter()
    for key, items in a.items():
        other = b.get(key)
        if other is None or len(other) != len(items):
            continue
        for (_, src), (_, off, ccc) in zip(sorted(items), sorted(other)):
            if src:
                out[(src, off, ccc)] += 1
    return out


def winners(counts: Counter) -> dict[str, tuple[int, set]]:
    """source -> (max count, every target that reaches it)."""
    best: dict[str, tuple[int, set]] = {}
    for (src, off, ccc), n in counts.items():
        top = best.get(src)
        if top is None or n > top[0]:
            best[src] = (n, {(off, ccc)})
        elif n == top[0]:
            top[1].add((off, ccc))
    return best


def kb_errors(rows, best: dict[str, tuple[int, set]], limit: int = 3) -> list[str]:
    """Check KB rows (source, official, ccc, frequency) against the
    expected winners: same key set, max frequency, an argmax target.
    The tie-break among argmax targets is left to the program."""
    errors: list[str] = []
    seen: set[str] = set()
    for src, off, ccc, freq in rows:
        if src in seen:
            errors.append(f"duplicate source {src!r}")
        seen.add(src)
        top = best.get(src)
        if top is None:
            errors.append(f"unexpected source {src!r}")
        elif freq != top[0]:
            errors.append(f"{src!r}: frequency {freq}, expected {top[0]}")
        elif (off, ccc) not in top[1]:
            errors.append(f"{src!r}: target {(off, ccc)} is not an argmax")
        if len(errors) >= limit:
            return errors
    missing = best.keys() - seen
    if missing:
        errors.append(f"{len(missing)} sources missing, e.g. {sorted(missing)[0]!r}")
    return errors
