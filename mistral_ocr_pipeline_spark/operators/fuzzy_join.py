"""J2 — fuzzy 1:1 best-match join (SURVEY.md §2.4).

The reference's evaluation harness scores every (review, output) pair with
``3·titleSim + 1·yearEq + 1·journalSim + 0.5·lastNameInTitle`` and greedily
assigns best matches
with a uniqueness set and a 1.5 threshold (reference
post_processing/compare_results.py:74-121).  Spark shape: blocked/broadcast
cross join → score expression → two-stage row_number windows (best output
per review, then uniqueness: best review per output) → threshold filter.

Similarity metric: the reference uses difflib.SequenceMatcher.ratio; for
the relational (SQL-replayable) variant we use a normalized Levenshtein
similarity (both engines implement identical Levenshtein), and keep a
difflib pandas-UDF variant for byte-parity with the reference where
needed."""

from __future__ import annotations

from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F

from mistral_ocr_pipeline_spark.functions.text_functions import (
    norm_key_col,
    strip_trailing_dot_zero,
)


def levenshtein_sim(a: Column, b: Column) -> Column:
    """1 - lev(a,b)/max(len) on normalized keys — SQL-replayable.
    DuckDB: ``1 - levenshtein(a,b)::double / greatest(length(a),length(b),1)``"""
    an, bn = norm_key_col(a), norm_key_col(b)
    return F.lit(1.0) - F.levenshtein(an, bn) / F.greatest(
        F.length(an), F.length(bn), F.lit(1)
    ).cast("double")


def fuzzy_best_match(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    title_cols: tuple[str, str],
    year_cols: tuple[str, str] | None = None,
    journal_cols: tuple[str, str] | None = None,
    author_col: str | None = None,
    threshold: float = 1.5,
    use_difflib: bool = False,
    block_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """Best 1:1 assignment with left-outer semantics: every left row appears
    once, matched or not (score < threshold ⇒ null right id).

    The left table (the human-review side in the reference) is small →
    broadcast; the cross join is bounded by |left| × |right| and runs as
    BroadcastNestedLoopJoin.  Greedy uniqueness = second window on the
    right id ordered by score (reference's `used` set,
    compare_results.py:87-119).

    ``block_cols``: optional equality blocking key (e.g. publication
    year).  With it the pair space becomes an EQUI-join on the key —
    the 100 TB shape: only same-block pairs are scored, the join hashes
    instead of nested-looping, and a huge right side stays partitioned.
    Semantics shift accordingly (cross-block matches are impossible), so
    blocking is opt-in; pick a key the reference formula treats as a
    hard signal (year) to keep assignments faithful."""
    # normalization happens ONCE per row in the pre-join projections —
    # inside the score expression it would re-run per cross-join pair
    # (O(|l|·|r|) regex passes; measured 10× slowdown)
    def raw_sim(a: Column, b: Column) -> Column:
        if use_difflib:
            return difflib_sim_norm(a, b)
        return F.lit(1.0) - F.levenshtein(a, b) / F.greatest(
            F.length(a), F.length(b), F.lit(1)
        ).cast("double")

    def norm_if_text(c: str, side: str) -> Column:
        col = F.col(c)
        if year_cols and c == (year_cols[0] if side == "l" else year_cols[1]):
            return col.alias(f"_{side}_{c}")  # years compared post-strip, not fuzzily
        return norm_key_col(col).alias(f"_{side}_{c}")

    l = left.select(
        F.col(left_id).alias("_lid"),
        *[norm_if_text(c, "l") for c in {title_cols[0],
                                         *( [year_cols[0]] if year_cols else []),
                                         *( [journal_cols[0]] if journal_cols else [])}],
        # author LAST NAME = last whitespace token of the RAW author field,
        # lowercased — reference extract_last_name (compare_results.py:69-71)
        # does NOT punctuation-strip, so neither do we
        *(
            [
                F.lower(
                    F.element_at(F.split(F.trim(F.col(author_col)), r"\s+"), -1)
                ).alias("_l_last")
            ]
            if author_col
            else []
        ),
        *([F.col(block_cols[0]).alias("_blk_l")] if block_cols else []),
    )
    r = right.select(
        F.col(right_id).alias("_rid"),
        *[norm_if_text(c, "r") for c in {title_cols[1],
                                         *( [year_cols[1]] if year_cols else []),
                                         *( [journal_cols[1]] if journal_cols else [])}],
        *([F.col(block_cols[1]).alias("_blk_r")] if block_cols else []),
    )
    score: Column = 3.0 * raw_sim(
        F.col(f"_l_{title_cols[0]}"), F.col(f"_r_{title_cols[1]}")
    )
    if year_cols:
        ly = strip_trailing_dot_zero(F.col(f"_l_{year_cols[0]}").cast("string"))
        ry = strip_trailing_dot_zero(F.col(f"_r_{year_cols[1]}").cast("string"))
        score = score + F.when(ly == ry, 1.0).otherwise(0.0)
    if journal_cols:
        score = score + raw_sim(
            F.col(f"_l_{journal_cols[0]}"), F.col(f"_r_{journal_cols[1]}")
        )
    if author_col:
        # +0.5 when the author's last name appears in the normalized right
        # title (reference compare_results.py:107-108 — the fallback signal
        # for rows with empty/garbled titles)
        last = F.col("_l_last")
        score = score + F.when(
            (last.isNotNull())
            & (last != "")
            & (F.instr(F.col(f"_r_{title_cols[1]}"), last) > 0),
            0.5,
        ).otherwise(0.0)
    from mistral_ocr_pipeline_spark.operators.util import ensure_parallelism

    # the big (right) side carries the nested-loop work — fan it out so the
    # broadcast NLJ parallelizes instead of grinding one input split
    if block_cols:
        pairs = (
            F.broadcast(l)
            .join(
                ensure_parallelism(r),
                F.col("_blk_l").eqNullSafe(F.col("_blk_r")),
            )
            .drop("_blk_l", "_blk_r")
            .withColumn("score", F.round(score, 9))
        )
    else:
        pairs = (
            F.broadcast(l)
            .crossJoin(ensure_parallelism(r))
            .withColumn("score", F.round(score, 9))
        )

    best_per_left = W.partitionBy("_lid").orderBy(
        F.col("score").desc(), F.col("_rid").asc()
    )
    uniq_per_right = W.partitionBy("_rid").orderBy(
        F.col("score").desc(), F.col("_lid").asc()
    )
    assigned = (
        pairs.withColumn("rn_l", F.row_number().over(best_per_left))
        .filter(F.col("rn_l") == 1)
        .withColumn("rn_r", F.row_number().over(uniq_per_right))
        .filter((F.col("rn_r") == 1) & (F.col("score") >= threshold))
        .select(
            F.col("_lid").alias("left_id"),
            F.col("_rid").alias("right_id"),
            F.col("score"),
        )
    )
    return (
        left.select(F.col(left_id).alias("left_id"))
        .join(assigned, "left_id", "left")
        .select("left_id", "right_id", F.col("score").alias("match_score"))
    )


def fuzzy_best_match_sequential(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    title_cols: tuple[str, str],
    year_cols: tuple[str, str] | None = None,
    journal_cols: tuple[str, str] | None = None,
    author_col: str | None = None,
    threshold: float = 1.5,
    use_difflib: bool = False,
    reference_gates: bool = False,
    candidates_per_left: int | None = None,
) -> DataFrame:
    """Reference-parity sequential greedy assignment
    (compare_results.py:74-121): reviews are processed in ``left_id``
    order; each claims its best-scoring *unused* output, so a review whose
    best output was already claimed by an earlier review falls back to its
    next-best unused output.  The single-round window formulation in
    :func:`fuzzy_best_match` leaves such a review unmatched instead — this
    variant exists for exact fidelity on contested pairs (the one semantic
    divergence flagged in the round-3 verdict).

    Shape: the O(|L|·|R|) pair scoring runs distributed (same broadcast-NLJ
    plan as :func:`fuzzy_best_match`); each left's candidate list is then
    pruned to its top-|L| (score desc, right-id asc) — sufficient for
    exactness because at most |L|-1 rights can be claimed by earlier lefts
    — and the bounded |L|² block feeds ONE ``applyInPandas`` task running
    the sequential loop.  This is the eval-harness shape (|L| = human
    review rows, hundreds); for corpus-scale 1:1 matching use
    :func:`fuzzy_best_match` with ``block_cols``.

    Tie-break parity: the reference's strict ``score > best_score`` keeps
    the EARLIEST output index on ties, so candidates order by
    (score desc, right_id asc) with right ids enumerated in output order.

    ``reference_gates=True`` reproduces the reference's empty-field gating
    (a score term contributes only when both raw fields are non-empty, and
    only the OUTPUT year is '.0'-stripped — compare_results.py:91-108);
    the default keeps the ungated formula shared with
    :func:`fuzzy_best_match` so the DuckDB oracle can replay it.
    """

    def raw_sim(a: Column, b: Column) -> Column:
        if use_difflib:
            return difflib_sim_norm(a, b)
        return F.lit(1.0) - F.levenshtein(a, b) / F.greatest(
            F.length(a), F.length(b), F.lit(1)
        ).cast("double")

    def gated(term: Column, *raw_nonempty: Column) -> Column:
        if not reference_gates:
            return term
        cond = F.lit(True)
        for c in raw_nonempty:
            cond = cond & (F.trim(F.coalesce(c, F.lit(""))) != "")
        return F.when(cond, term).otherwise(0.0)

    lt, rt = title_cols
    l_cols = [
        F.col(left_id).alias("_lid"),
        F.coalesce(F.col(lt), F.lit("")).alias("_l_title_raw"),
        norm_key_col(F.coalesce(F.col(lt), F.lit(""))).alias("_l_title"),
    ]
    r_cols = [
        F.col(right_id).alias("_rid"),
        F.coalesce(F.col(rt), F.lit("")).alias("_r_title_raw"),
        norm_key_col(F.coalesce(F.col(rt), F.lit(""))).alias("_r_title"),
    ]
    if year_cols:
        l_cols.append(F.col(year_cols[0]).cast("string").alias("_l_year"))
        r_cols.append(F.col(year_cols[1]).cast("string").alias("_r_year"))
    if journal_cols:
        l_cols.append(
            F.coalesce(F.col(journal_cols[0]), F.lit("")).alias("_l_journal_raw")
        )
        l_cols.append(
            norm_key_col(F.coalesce(F.col(journal_cols[0]), F.lit(""))).alias(
                "_l_journal"
            )
        )
        r_cols.append(
            F.coalesce(F.col(journal_cols[1]), F.lit("")).alias("_r_journal_raw")
        )
        r_cols.append(
            norm_key_col(F.coalesce(F.col(journal_cols[1]), F.lit(""))).alias(
                "_r_journal"
            )
        )
    if author_col:
        l_cols.append(
            F.lower(
                F.element_at(F.split(F.trim(F.col(author_col)), r"\s+"), -1)
            ).alias("_l_last")
        )

    l = left.select(*l_cols)
    r = right.select(*r_cols)

    score: Column = gated(
        3.0 * raw_sim(F.col("_l_title"), F.col("_r_title")),
        F.col("_l_title_raw"),
        F.col("_r_title_raw"),
    )
    if year_cols:
        ly = F.trim(F.coalesce(F.col("_l_year"), F.lit("")))
        ry = strip_trailing_dot_zero(F.trim(F.coalesce(F.col("_r_year"), F.lit(""))))
        if not reference_gates:
            ly = strip_trailing_dot_zero(ly)
        eq = F.when((ly != "") & (ry != "") & (ly == ry), 1.0).otherwise(0.0)
        score = score + eq
    if journal_cols:
        score = score + gated(
            raw_sim(F.col("_l_journal"), F.col("_r_journal")),
            F.col("_l_journal_raw"),
            F.col("_r_journal_raw"),
        )
    if author_col:
        last = F.col("_l_last")
        score = score + F.when(
            (last.isNotNull())
            & (last != "")
            & (F.instr(F.col("_r_title"), last) > 0),
            0.5,
        ).otherwise(0.0)

    from mistral_ocr_pipeline_spark.operators.util import ensure_parallelism

    pairs = (
        F.broadcast(l)
        .crossJoin(ensure_parallelism(r))
        .withColumn("score", F.round(score, 9))
        .select("_lid", "_rid", "score")
    )

    # top-|L| candidates per left: exact (≤|L|-1 rights claimable by earlier
    # lefts), and bounds the single-task sequential block to |L|² rows
    if candidates_per_left is None:
        candidates_per_left = left.count()
    keep = max(int(candidates_per_left), 1)
    w_cand = W.partitionBy("_lid").orderBy(F.col("score").desc(), F.col("_rid").asc())
    cand = (
        pairs.withColumn("_rn", F.row_number().over(w_cand))
        .filter(F.col("_rn") <= keep)
        .drop("_rn")
    )

    lid_type = l.schema["_lid"].dataType.simpleString()
    rid_type = r.schema["_rid"].dataType.simpleString()
    out_schema = (
        f"left_id {lid_type}, right_id {rid_type}, match_score double"
    )

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["_lid", "score", "_rid"], ascending=[True, False, True],
            kind="mergesort",
        )
        used: set = set()
        rows = []
        for lid, grp in pdf.groupby("_lid", sort=True):
            best_rid, best_score = None, None
            for rid, sc in zip(grp["_rid"].values, grp["score"].values):
                if rid in used:
                    continue
                best_rid, best_score = rid, sc
                break
            if best_rid is not None and best_score >= threshold:
                used.add(best_rid)
                rows.append((lid, best_rid, float(best_score)))
            else:
                rows.append((lid, None, None))
        # object dtype keeps None as a true null through Arrow (int+None
        # would otherwise coerce to float64/NaN and break the id type)
        return pd.DataFrame(
            {
                "left_id": pd.Series([t[0] for t in rows], dtype="object"),
                "right_id": pd.Series([t[1] for t in rows], dtype="object"),
                "match_score": pd.Series([t[2] for t in rows], dtype="object"),
            }
        )

    assigned = (
        cand.withColumn("_g", F.lit(0)).groupBy("_g").applyInPandas(assign, out_schema)
    )
    return (
        left.select(F.col(left_id).alias("left_id"))
        .join(assigned, "left_id", "left")
        .select("left_id", "right_id", "match_score")
    )


def difflib_sim_norm(a: Column, b: Column) -> Column:
    """SequenceMatcher.ratio over ALREADY-normalized columns (the
    pre-join-projection shape used inside the match operators)."""

    @F.pandas_udf("double")
    def ratio(s1: pd.Series, s2: pd.Series) -> pd.Series:
        return pd.Series(
            [SequenceMatcher(None, x or "", y or "").ratio() for x, y in zip(s1, s2)]
        )

    return ratio(a, b)
