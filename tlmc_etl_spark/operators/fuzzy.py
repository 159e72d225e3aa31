"""Fuzzy 1:1 assignment join (Hungarian) over grouped candidate pairs.

Reference: local tracks × thwiki tracks per album — cost = fuzz.ratio on
normalized titles, globally-optimal 1:1 via linear_sum_assignment, album
accepted only if Σscore ≥ 0.8 × potential (song_info_matcher.py:123-208).

Spark shape: candidate pairing is an equi-join on the group key (album);
the per-group optimal assignment runs in `applyInPandas`, which is exactly
the right boundary — the global problem is embarrassingly parallel across
groups, and each group's matrix is small (tracks per album ≲ 100).
"""

from __future__ import annotations

import unicodedata
from difflib import SequenceMatcher

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tlmc_etl_spark.functions.text import match_key
from tlmc_etl_spark.operators.assignment import linear_sum_assignment
from tlmc_etl_spark.tuning import fanout


def similarity(a: str, b: str) -> float:
    """Title similarity in [0,100], difflib ratio on match keys (the
    stdlib stand-in for fuzz.ratio; same scale, pinned here)."""
    return 100.0 * SequenceMatcher(None, match_key(a), match_key(b)).ratio()


def hungarian_match_join(
    left: DataFrame,
    right: DataFrame,
    group_col: str,
    left_id: str,
    left_title: str,
    right_id: str,
    right_title: str,
    accept_fraction: float = 0.8,
) -> DataFrame:
    """Per-group globally-optimal 1:1 fuzzy match.

    Output: one row per matched pair with the group acceptance flag
    (group kept only if total score ≥ accept_fraction × 100 × n_pairs,
    the reference's threshold, song_info_matcher.py:147-163).
    """
    l_tag = left.select(
        F.col(group_col).alias("grp"),
        F.col(left_id).alias("left_id"),
        F.col(left_title).alias("left_title"),
    )
    r_tag = right.select(
        F.col(group_col).alias("grp"),
        F.col(right_id).alias("right_id"),
        F.col(right_title).alias("right_title"),
    )
    lg = l_tag.withColumn("side", F.lit("L")).withColumnRenamed("left_id", "id").withColumnRenamed(
        "left_title", "title"
    )
    rg = r_tag.withColumn("side", F.lit("R")).withColumnRenamed("right_id", "id").withColumnRenamed(
        "right_title", "title"
    )
    both = lg.unionByName(rg)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = pdf["grp"].iloc[0]
        L = pdf[pdf["side"] == "L"].sort_values("id").reset_index(drop=True)
        R = pdf[pdf["side"] == "R"].sort_values("id").reset_index(drop=True)
        if len(L) == 0 or len(R) == 0:
            return pd.DataFrame(
                columns=["grp", "left_id", "right_id", "score", "group_total", "accepted"]
            )
        # Normalize each title ONCE (not per pair — that would be O(n²)
        # NFKC passes), and reuse one SequenceMatcher per right key so its
        # seq2 index is built once per column instead of once per cell.
        lk = [match_key(t) for t in L["title"]]
        rk = [match_key(t) for t in R["title"]]
        S = np.empty((len(lk), len(rk)), dtype=np.float64)
        sm = SequenceMatcher()
        for j, b in enumerate(rk):
            sm.set_seq2(b)
            for i, a in enumerate(lk):
                if a == b:
                    S[i, j] = 100.0
                else:
                    sm.set_seq1(a)
                    S[i, j] = 100.0 * sm.ratio()
        rows, cols = linear_sum_assignment(-S)  # maximize similarity
        scores = S[rows, cols]
        n = min(len(L), len(R))
        total = float(scores.sum())
        accepted = total >= accept_fraction * 100.0 * n
        return pd.DataFrame(
            {
                "grp": grp,
                "left_id": L["id"].to_numpy()[rows],
                "right_id": R["id"].to_numpy()[cols],
                "score": np.round(scores, 4),
                "group_total": round(total, 4),
                "accepted": accepted,
            }
        )

    out_schema = (
        "grp long, left_id string, right_id string, score double, group_total double, accepted boolean"
    )
    # CPU-bound stage (O(n^2) difflib + LAP per group) over a byte-tiny
    # shuffle: pin full parallelism with an AQE-exempt repartition on the
    # group key (the groupBy reuses the partitioning — one exchange total).
    return fanout(both, "grp").groupBy("grp").applyInPandas(solve, schema=out_schema)


def tokens(s: str) -> list[str]:
    """Normalized token multiset-as-set for token-set matching."""
    norm = unicodedata.normalize("NFKC", s).lower()
    return sorted({t for t in "".join(ch if ch.isalnum() else " " for ch in norm).split() if t})


def token_set_ratio(a: str, b: str) -> float:
    """Order-insensitive token-set similarity in [0,100].

    The fuzz.token_set_ratio shape (ThdbAlbumScraper/thdb_album_scraper.py:17-21
    matches album names at > 90): compare sorted-token intersection against
    each side's full sorted-token string and the two full strings against
    each other; the max forgives word reorders and one-sided extra tokens.
    Implemented on stdlib difflib so the engine carries no fuzz dependency.
    """
    ta, tb = set(tokens(a)), set(tokens(b))
    inter = " ".join(sorted(ta & tb))
    full_a = " ".join(sorted(ta))
    full_b = " ".join(sorted(tb))
    cands = []
    for x, y in ((inter, full_a), (inter, full_b), (full_a, full_b)):
        if x or y:
            cands.append(SequenceMatcher(None, x, y).ratio())
    return 100.0 * (max(cands) if cands else 1.0)


def _ratio3(inter: str, full_a: str, full_b: str) -> float:
    """token_set_ratio core on pre-built sorted-token strings: max difflib
    ratio over (inter,full_a), (inter,full_b), (full_a,full_b).

    The subset shortcut lives HERE, not in a when() column: Spark extracts
    Python UDFs out of conditional expressions and evaluates them for every
    row, so a JVM-side branch would not actually skip the call.
    """
    if inter == full_a or inter == full_b:
        return 100.0
    sm = SequenceMatcher(None, "", full_a)
    sm.set_seq1(inter)
    best = sm.ratio()
    sm.set_seq2(full_b)
    r = sm.ratio()
    if r > best:
        best = r
    sm.set_seq1(full_a)
    r = sm.ratio()
    return 100.0 * max(best, r)


def token_set_match_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_name: str,
    right_id: str,
    right_name: str,
    threshold: float = 90.0,
) -> DataFrame:
    """First-above-threshold fuzzy name match, blocked to stay scalable.

    Candidate generation is an equi-join on a cheap blocking key (any shared
    normalized token) — at 100 TB this is the difference between |L|×|R| and
    Σ per-token bucket products, the same pruning idea as LSH banding.

    The expensive Python ratio runs only on candidates that survive three
    JVM-side cuts, in pruning-power order:
      1. pair dedup for free: a pair sharing k tokens surfaces k times, but
         only the copy joined on the SMALLEST shared token is kept — a pure
         filter, no distinct shuffle;
      2. difflib's real_quick_ratio length bound (ratio ≤ 2·min(la,lb)/
         (la+lb)) for the two (inter, full) comparisons — kills pairs whose
         shared tokens are a small fraction of either name;
      3. difflib's quick_ratio bound (ratio ≤ 2·common-char-multiset/
         (la+lb)) for the (full_a, full_b) comparison — the length bound is
         useless there when both names are similar length, but the char
         bound isn't fooled.
    Each name is tokenized once per ROW (not per pair); the pair scorer
    only ever sees pre-built sorted-token strings and early-returns 100 for
    subset token sets (byte-identical compared pair). Winners are the
    best-score, lowest-id match above threshold per left row (deterministic).
    """
    from pyspark.sql import Window as W

    # Arrow-batched pandas UDFs, not row-at-a-time F.udf: the tokenizer and
    # scorer are the only Python in this plan, and batch transfer amortizes
    # the serialization that per-row pickling pays per value.
    @F.pandas_udf("array<string>")
    def tok_udf(s: pd.Series) -> pd.Series:
        return s.map(tokens)

    @F.pandas_udf("double")
    def ratio3_udf(inter: pd.Series, full_a: pd.Series, full_b: pd.Series) -> pd.Series:
        return pd.Series(
            [_ratio3(i, a, b) for i, a, b in zip(inter, full_a, full_b)],
            dtype="float64",
            index=inter.index,
        )
    # Round-robin repartition both exploded sides: a small parquet input is
    # one scan partition, and a broadcast join would otherwise run the whole
    # candidate expansion + scoring in that ONE task. The shuffles are tiny
    # (pre-expansion row counts); the join stage gets every core.
    n_part = left.sparkSession.sparkContext.defaultParallelism
    l = (
        left.select(
            F.col(left_id).alias("left_id"),
            F.col(left_name).alias("left_name"),
            tok_udf(left_name).alias("toks_a"),
        )
        .withColumn("tok", F.explode("toks_a"))
        .repartition(n_part)
    )
    r = (
        right.select(
            F.col(right_id).alias("right_id"),
            F.col(right_name).alias("right_name"),
            tok_udf(right_name).alias("toks_b"),
        )
        .withColumn("tok", F.explode("toks_b"))
        .repartition(n_part)
    )
    inter_arr = F.array_intersect("toks_a", "toks_b")  # both sorted → sorted
    cands = (
        l.join(r, "tok")
        .filter(F.col("tok") == F.element_at(inter_arr, 1))
        .select(
            "left_id",
            "left_name",
            "right_id",
            "right_name",
            F.length(F.array_join(inter_arr, " ")).alias("li"),
            F.array_join(inter_arr, " ").alias("inter"),
            F.array_join("toks_a", " ").alias("full_a"),
            F.array_join("toks_b", " ").alias("full_b"),
        )
        .withColumn("la", F.length("full_a"))
        .withColumn("lb", F.length("full_b"))
    )
    # Upper bounds on each matcher pair; a candidate survives iff the max
    # bound clears the threshold. The two inter-vs-full bounds are pure
    # length arithmetic; the full-vs-full bound counts the common character
    # multiset (difflib quick_ratio), a few dozen JVM char compares per row.
    # (A 37-symbol closed-alphabet unroll of this count was tried and is
    # ~3x SLOWER: the 74-function expression tree exceeds the codegen
    # method-size limit and the whole stage falls back to interpreted
    # evaluation — keep the higher-order form.)
    common_chars = F.expr(
        "aggregate(array_distinct(split(full_a, '')), 0, (acc, c) ->"
        " acc + int(least(size(filter(split(full_a, ''), x -> x = c)),"
        " size(filter(split(full_b, ''), x -> x = c)))))"
    )
    t = threshold / 100.0
    survives = (
        (2.0 * F.col("li") / (F.col("li") + F.col("la")) > t)
        | (2.0 * F.col("li") / (F.col("li") + F.col("lb")) > t)
        | (2.0 * common_chars / (F.col("la") + F.col("lb")) > t)
    )
    pruned = cands.filter(survives)
    scored = pruned.withColumn(
        "score", F.round(ratio3_udf("inter", "full_a", "full_b"), 4)
    ).filter(F.col("score") > threshold)
    w = W.partitionBy("left_id").orderBy(F.col("score").desc(), F.col("right_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("left_id", "left_name", "right_id", "right_name", "score")
    )
