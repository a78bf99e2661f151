"""Gopher-style repetition quality metrics for training-data curation.

Implements the repetition subset of the published Gopher corpus-quality
rules (Rae et al. 2021, "Scaling Language Models", Table A1): duplicate
line fraction, duplicate line character fraction, top word-2-gram
character fraction, and duplicated word-5-gram character coverage —
each as an exact integer count so the DuckDB oracle can hash-compare
values bit-for-bit (fractions are reported as numerator counts plus the
shared denominators ``n_chars`` / ``n_lines``; the pass flag uses
integer cross-multiplication, never floats).

Reference context: the reference engine has no corpus-quality layer at
all (it renders tiles); this module belongs to the training-data axis
the survey adds on top (SURVEY.md §2, LLM-pipeline ops). The metric
definitions are from the public Gopher paper only.

Metric definitions (all per document):
  n_words            size(split(text, ' '))     ('' counts as 1 word)
  n_chars            length(text)
  n_lines            size(split(text, line_sep))
  dup_line_count     sum over distinct lines of (occurrences - 1)
  dup_line_chars     same, weighted by length(line)
  top_bigram_count   occurrences of the most frequent word 2-gram
                     (ties: longer gram, then lexicographically first)
  top_bigram_chars   top_bigram_count * (length(gram) - 1)  [the two
                     words' characters; the joining space is excluded]
  dup5_covered_words distinct word positions covered by any word
                     5-gram that occurs >= 2 times in the doc
                     (overlap-union, counted once — Gopher semantics)
  dup5_covered_chars sum of length(word) over those covered positions
  gopher_pass        1 iff  dup_line_count*10 <= n_lines*3   (<= 30%)
                     and   dup_line_chars*5  <= n_chars      (<= 20%)
                     and   top_bigram_chars*5 <= n_chars     (<= 20%)
                     and   dup5_covered_chars*20 <= n_chars*3 (<= 15%)
                     (the published thresholds for this subset; the
                     top-bigram gate only applies when
                     top_bigram_count >= 2 — a gram occurring once is
                     not repetition, and in short documents a single
                     long bigram alone exceeds 20% of the characters)

Scale shape (100 TB): every stage is an explode + groupBy/join keyed by
(doc_id, gram) or (doc_id, position) — linear in corpus size, no
all-pairs, no driver collect. A pathological single giant document
spreads across partitions because the shuffle keys include the gram /
position, not just doc_id (same skew argument as operators/substring.py,
whose bench demonstrates the 10 MB-doc case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: published Gopher thresholds for the implemented subset, as integer
#: ratios (numerator multiplier, denominator multiplier): frac <= d/n
GOPHER_THRESHOLDS = {
    "dup_line_frac": (10, 3),  # <= 0.30 of lines
    "dup_line_char_frac": (5, 1),  # <= 0.20 of chars
    "top_bigram_char_frac": (5, 1),  # <= 0.20 of chars
    "dup5_char_frac": (20, 3),  # <= 0.15 of chars
}


def repetition_metrics(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Per-document repetition metrics (schema in the module docstring).

    Declarative composition only — stays in whole-stage codegen through
    the explodes; five keyed shuffles total, all linear in input size.
    """
    sep = line_sep.replace("\\", "\\\\").replace("'", "\\'")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.split(F.col(text_col), " ", -1).alias("_words"),
    )

    # --- line metrics: one groupBy(doc, line), then a per-doc rollup ---
    lines = base.select(
        "doc_id", F.explode(F.split(F.col("_t"), sep, -1)).alias("line")
    )
    line_stats = (
        lines.groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_lines"),
            F.sum(F.col("cnt") - 1).alias("dup_line_count"),
            F.sum((F.col("cnt") - 1) * F.length("line")).alias("dup_line_chars"),
        )
    )

    # --- top word-2-gram: grams built array-side, then count + top-1 ---
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(_words, 1, greatest(size(_words) - 1, 0)),"
                " (x, i) -> concat(x, ' ', element_at(_words, i + 2)))"
            )
        ).alias("gram"),
    )
    top_bigram = (
        bigrams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("cnt").desc(), F.length("gram").desc(), F.col("gram")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("cnt").alias("top_bigram_count"),
            (F.col("cnt") * (F.length("gram") - 1)).alias("top_bigram_chars"),
        )
    )

    # --- duplicated 5-gram coverage: gram counts -> dup positions ->
    #     overlap-union of covered word indexes -> char sum -------------
    g5 = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(slice(_words, 1, greatest(size(_words) - 4, 0)),"
                " (x, i) -> concat_ws(' ', slice(_words, i + 1, 5)))"
            )
        ).alias("pos0", "gram"),
    )
    dup_keys = (
        g5.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("doc_id", "gram")
    )
    covered = (
        g5.join(dup_keys, ["doc_id", "gram"])  # co-partitioned on the agg key
        .select(
            "doc_id",
            F.explode(F.expr("sequence(pos0 + 1, pos0 + 5)")).alias("widx"),
        )
        .distinct()
    )
    word_lens = base.select(
        "doc_id",
        F.posexplode(F.expr("transform(_words, w -> length(w))")).alias(
            "pos0", "wlen"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("widx"), "wlen")
    dup5 = (
        covered.join(word_lens, ["doc_id", "widx"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup5_covered_words"),
            F.sum("wlen").alias("dup5_covered_chars"),
        )
    )

    out = (
        base.select(
            "doc_id",
            F.expr("CAST(size(_words) AS BIGINT)").alias("n_words"),
            F.expr("CAST(length(_t) AS BIGINT)").alias("n_chars"),
        )
        .join(line_stats, "doc_id", "left")
        .join(top_bigram, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce(F.col("dup_line_count"), F.lit(0))
            .cast("bigint")
            .alias("dup_line_count"),
            F.coalesce(F.col("dup_line_chars"), F.lit(0))
            .cast("bigint")
            .alias("dup_line_chars"),
            F.coalesce(F.col("top_bigram_count"), F.lit(0))
            .cast("bigint")
            .alias("top_bigram_count"),
            F.coalesce(F.col("top_bigram_chars"), F.lit(0))
            .cast("bigint")
            .alias("top_bigram_chars"),
            F.coalesce(F.col("dup5_covered_words"), F.lit(0))
            .cast("bigint")
            .alias("dup5_covered_words"),
            F.coalesce(F.col("dup5_covered_chars"), F.lit(0))
            .cast("bigint")
            .alias("dup5_covered_chars"),
        )
    )
    t = GOPHER_THRESHOLDS
    return out.withColumn(
        "gopher_pass",
        (
            (F.col("dup_line_count") * t["dup_line_frac"][0]
             <= F.col("n_lines") * t["dup_line_frac"][1])
            & (F.col("dup_line_chars") * t["dup_line_char_frac"][0]
               <= F.col("n_chars") * t["dup_line_char_frac"][1])
            & (
                (F.col("top_bigram_count") < 2)
                | (F.col("top_bigram_chars") * t["top_bigram_char_frac"][0]
                   <= F.col("n_chars") * t["top_bigram_char_frac"][1])
            )
            & (F.col("dup5_covered_chars") * t["dup5_char_frac"][0]
               <= F.col("n_chars") * t["dup5_char_frac"][1])
        ).cast("int"),
    )
