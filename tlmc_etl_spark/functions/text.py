"""Deterministic scalar functions the reference implements in imperative
Python — here as small unit-tested pure functions wrapped as UDFs only
where Spark's expression language genuinely can't express them
(SURVEY.md §7.3: balanced-bracket parsing is a stack parser, not a regex).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Balanced-bracket parsing (info_scanner_ph2.py:73-103): outer bracket
# contents with skip-unterminated recovery. Not regex-expressible.
# ---------------------------------------------------------------------------

BRACKET_PAIRS = {"[": "]", "(": ")", "{": "}", "【": "】", "（": "）"}
CLOSERS = set(BRACKET_PAIRS.values())


def extract_brackets(s: str | None) -> list[str]:
    """Return the contents of every top-level bracket group, in order.

    Nested groups stay inside their outer group's content; an unterminated
    opener is skipped (recovery mirrors the reference's tolerance of
    malformed directory names).
    """
    if s is None:
        return []
    out: list[str] = []
    stack: list[tuple[str, int]] = []  # (expected closer, content start)
    for i, ch in enumerate(s):
        if ch in BRACKET_PAIRS:
            stack.append((BRACKET_PAIRS[ch], i + 1))
        elif ch in CLOSERS and stack:
            closer, start = stack[-1]
            if ch == closer:
                stack.pop()
                if not stack:  # only top-level groups are emitted
                    out.append(s[start:i])
    return out


def remove_brackets(s: str | None) -> str:
    """The string with every balanced top-level bracket group removed."""
    if s is None:
        return ""
    drops: list[tuple[int, int]] = []
    stack: list[int] = []
    closer_for: dict[int, str] = {}
    for i, ch in enumerate(s):
        if ch in BRACKET_PAIRS:
            stack.append(i)
            closer_for[i] = BRACKET_PAIRS[ch]
        elif ch in CLOSERS and stack:
            if ch == closer_for[stack[-1]]:
                start = stack.pop()
                if not stack:
                    drops.append((start, i))
    keep = []
    pos = 0
    for a, b in drops:
        keep.append(s[pos:a])
        pos = b + 1
    keep.append(s[pos:])
    return "".join(keep).strip()


# useArrow=True EXPLICITLY: these UDF objects are created at module
# import, which happens before any SparkSession exists, so the
# session-wide spark.sql.execution.pythonUDF.arrow.enabled fallback is
# resolved (to false) at creation time and the UDFs planned as pickled
# BatchEvalPython — the r15 plan audit caught the catalog plans still
# carrying BatchEvalPython nodes despite the session config. Factory-
# style UDFs (created at plan-build time, session live) pick the config
# up and need no flag.
extract_brackets_udf = F.udf(extract_brackets, T.ArrayType(T.StringType()), useArrow=True)
remove_brackets_udf = F.udf(remove_brackets, T.StringType(), useArrow=True)


def extract_brackets_pandas():
    """Arrow-batched extract_brackets: one Python call per Arrow batch
    instead of per row. Same stack parser, same output; this is the form
    the hot paths use (the scalar UDF stays for scattered small-column
    uses). At corpus scale the per-row UDF's pickle/invoke overhead
    dominates the actual parse — the batch form amortizes it. A factory
    (not a module-level UDF object) so importing this module on an
    executor, which happens whenever any UDF defined here unpickles,
    never constructs a UDF without a session."""

    def go(s: pd.Series) -> pd.Series:
        return s.map(extract_brackets)

    return F.pandas_udf(go, "array<string>")


# ---------------------------------------------------------------------------
# Unicode match key (song_info_matcher.py:100-107) — pinned to NFKC
# (SURVEY.md §7.4-2). operators/fuzzy.py imports this same function.
# ---------------------------------------------------------------------------


def match_key(s: str | None) -> str:
    """Unicode-normalized match key: NFKC, lowercase, letters+digits only.

    Reference has two recipes (NFKD vs NFKC+NFD, song_page_scraper.py:93-98,
    song_info_matcher.py:100-107); SURVEY.md §7.4-2 says pick ONE and pin
    it — this engine pins NFKC.
    """
    if s is None:
        return ""
    s = unicodedata.normalize("NFKC", s).lower()
    return "".join(ch for ch in s if ch.isalnum())


match_key_udf = F.udf(match_key, T.StringType(), useArrow=True)


# ---------------------------------------------------------------------------
# Canonical track filename (info_scanner_ph2.py:26-50):
#   "(NN) [Artist] Title.ext"  — regex-expressible, kept as column exprs so
# the parse stays inside whole-stage codegen.
# ---------------------------------------------------------------------------

TRACK_FILENAME_RE = r"^\((\d{2})\) \[([^\]]+)\] (.+)\.([A-Za-z0-9]+)$"


def parse_track_filename(col):
    """Struct(track_no int, artist, title, ext) or nulls when non-canonical."""
    c = F.col(col) if isinstance(col, str) else col
    matched = c.rlike(TRACK_FILENAME_RE)
    return F.struct(
        F.when(matched, F.regexp_extract(c, TRACK_FILENAME_RE, 1).cast("int")).alias("track_no"),
        F.when(matched, F.regexp_extract(c, TRACK_FILENAME_RE, 2)).alias("artist"),
        F.when(matched, F.regexp_extract(c, TRACK_FILENAME_RE, 3)).alias("title"),
        F.when(matched, F.lower(F.regexp_extract(c, TRACK_FILENAME_RE, 4))).alias("ext"),
    )


# ---------------------------------------------------------------------------
# TypeID encoding (api_client.py:27-48): uuid → Crockford-base32 with a
# type prefix ("trk_01h4..."). Deterministic string function.
# ---------------------------------------------------------------------------

_CROCKFORD = "0123456789abcdefghjkmnpqrstvwxyz"


def typeid_encode(uuid_hex: str | None, prefix: str = "trk") -> str | None:
    """Encode a 32-char uuid hex string as `{prefix}_{26 base32 chars}`.

    The 128-bit value is left-padded to 130 bits (2 zero bits) and emitted
    as 26 Crockford-base32 characters, most significant first — the
    standard TypeID wire format the reference's backend routes bind.
    """
    if uuid_hex is None:
        return None
    h = uuid_hex.replace("-", "")
    if len(h) != 32:
        raise ValueError(f"not a uuid hex string: {uuid_hex!r}")
    n = int(h, 16)
    chars = []
    for shift in range(125, -1, -5):
        chars.append(_CROCKFORD[(n >> shift) & 0x1F])
    return f"{prefix}_{''.join(chars)}"


def typeid_decode(type_id: str) -> tuple[str, str]:
    """Inverse of typeid_encode → (prefix, uuid_hex)."""
    prefix, _, body = type_id.rpartition("_")
    if len(body) != 26:
        raise ValueError(f"not a typeid: {type_id!r}")
    n = 0
    for ch in body:
        n = (n << 5) | _CROCKFORD.index(ch)
    return prefix, f"{n:032x}"


def typeid_udf(prefix: str):
    return F.udf(lambda h: typeid_encode(h, prefix), T.StringType())


# ---------------------------------------------------------------------------
# Deterministic ids (SURVEY.md §7.4-1): xxhash64 of the natural key instead
# of uuid7, so reruns and oracles agree. Column-level, JVM-side.
# ---------------------------------------------------------------------------


def stable_id(*cols) -> F.Column:
    """Hex id from the natural key — deterministic across runs/executors."""
    return F.lower(F.hex(F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols])))


def uuid7_hex(mint_ts_ms: int, *cols) -> F.Column:
    """Production-format id: a 32-char hex string laid out as RFC-9562
    UUIDv7 (the reference mints uuid7 for album/disc/track/asset ids —
    id_assign_and_merge.py:74-83 — for B-tree insert locality and
    time-sortable TypeIDs).

    Layout: 48-bit `mint_ts_ms` (the RUN's mint time — every id of a run
    shares the prefix, which is exactly the bulk-insert locality the
    reference wants), version nibble 7, then 74 entropy bits drawn from
    two seeded xxhash64 passes over the natural key instead of a PRNG.
    Deterministic entropy keeps the pipeline idempotent (a rerun with the
    same mint_ts re-mints identical ids, so resume/merge stay exact-once)
    while the wire format — version, variant, sortable prefix — is
    byte-compatible with uuid7: `typeid_encode` produces valid TypeIDs
    from it and any RFC-9562 parser accepts it. Fully JVM-side.
    """
    key = [F.col(c) if isinstance(c, str) else c for c in cols]
    ts48 = F.lpad(F.hex(F.lit(int(mint_ts_ms) & 0xFFFF_FFFF_FFFF)), 12, "0")
    h1 = F.xxhash64(F.lit(0x7A), *key)
    h2 = F.xxhash64(F.lit(0x7B), *key)
    rand_a = h1.bitwiseAND(F.lit(0xFFF))  # 12 bits
    var_hi = h2.bitwiseAND(F.lit(0x3FFF)).bitwiseOR(F.lit(0x8000))  # '10' variant
    rand_b_lo = F.shiftrightunsigned(h2, 16).bitwiseAND(
        F.lit(0xFFFF_FFFF_FFFF)
    )  # 48 bits
    return F.lower(
        F.concat(
            ts48,
            F.lit("7"),
            F.lpad(F.hex(rand_a), 3, "0"),
            F.lpad(F.hex(var_hi), 4, "0"),
            F.lpad(F.hex(rand_b_lo), 12, "0"),
        )
    )
