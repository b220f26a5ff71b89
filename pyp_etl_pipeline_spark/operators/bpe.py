"""Distributed BPE (byte-pair-encoding) tokenizer-vocabulary training.

The canonical LLM-tokenizer trainer (Sennrich et al. 2016; the
HuggingFace/SentencePiece BPE algorithm), expressed as DataFrame plans:

- the corpus collapses to a WORD-FREQUENCY table first (the classic
  move that makes BPE tractable: all further work is over the distinct
  vocabulary weighted by counts — dimension-sized, not corpus-sized);
- each word is a symbol sequence, initially its characters;
- per merge step: count adjacent symbol pairs weighted by word
  frequency (one map-side-combined shuffle over the vocab), pick the
  most frequent pair (count desc, then lexicographic pair — a total,
  engine-portable order), and rewrite every word's sequence by merging
  that pair LEFT-TO-RIGHT, non-overlapping (a map-only ``aggregate``
  fold per word; a run "a a a" under merge (a,a) becomes "aa a", the
  standard BPE scan order).

Per merge the cluster does one vocab-sized shuffle plus a 1-row
collect (the argmax pair) — n_merges small jobs over a dimension-sized
relation, which is exactly how industrial distributed BPE trainers
shape the work. Each merge's rewritten sequences are anchored with a
lazy ``localCheckpoint`` that the next merge's argmax collect fills, so
plan lineage (and Catalyst analysis cost) stays one fold deep across
merges instead of nesting n folds deep, at no extra job per merge.

Determinism: counts are integers, the argmax order is total, and the
fold is a pure function — the same corpus yields the same merge table
and the same segmentations on any engine (tk01 certifies both against
a DuckDB twin that replays every merge with recursive CTEs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(word, cnt) over the normalized corpus — BPE's training input."""
    from pyp_etl_pipeline_spark.operators.dedup import normalized_text  # noqa: PLC0415

    ex = df.select(F.explode(F.split(normalized_text(text_col), " ")).alias("word")).filter(
        F.col("word") != ""
    )
    return ex.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))


def _merge_fold(a: str, b: str) -> F.Column:
    """Left-to-right non-overlapping merge of adjacent (a, b) into a+b
    over the symbol array column ``t`` — an ``aggregate`` fold with an
    array accumulator; the merged symbol never re-participates in the
    same step (its text a+b cannot equal the pattern's left symbol a)."""
    merged = F.lit(a + b)

    def step(acc: F.Column, x: F.Column) -> F.Column:
        hit = (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b))
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(F.col("t"), F.array().cast("array<string>"), step)


def bpe_fit(
    words: DataFrame,
    n_merges: int = 10,
    word_col: str = "word",
    count_col: str = "cnt",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges from a (word, count) table.

    Returns (merge table in order, final segmentation DataFrame with
    columns (word, cnt, t: array<string>)). Stops early if no adjacent
    pair remains (fully merged vocabulary)."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    seqs = words.select(
        F.col(word_col).alias("word"),
        F.col(count_col).cast("long").alias("cnt"),
        F.regexp_extract_all(word_col, F.lit("."), 0).alias("t"),
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        n = F.size("t")
        zipped = seqs.filter(n >= 2).select(
            "cnt",
            F.zip_with(
                F.slice("t", 1, n - 1),
                F.slice("t", 2, n - 1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            ).alias("__p"),
        )
        pairs = zipped.select("cnt", F.explode("__p").alias("p")).select(
            "cnt", F.col("p.a").alias("a"), F.col("p.b").alias("b")
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # lazy: the next merge's collect fills it, so lineage stays one fold deep
        seqs = seqs.withColumn("t", _merge_fold(a, b)).localCheckpoint(eager=False)
    return merges, seqs


def bpe_segment(words: DataFrame, merges: list[tuple[str, str]], word_col: str = "word") -> DataFrame:
    """Apply a learned merge table to new words (map-only: n_merges
    sequential folds per row, no shuffle)."""
    out = words.withColumn("t", F.regexp_extract_all(word_col, F.lit("."), 0))
    for a, b in merges:
        out = out.withColumn("t", _merge_fold(a, b))
    return out


def wordpiece_vocab(
    words: DataFrame, top_k: int = 10, max_len: int = 6
) -> DataFrame:
    """Derive a deterministic WordPiece-style vocabulary from a
    (word, cnt) table: every single character seen in the corpus (the
    guaranteed-progress fallback every WordPiece vocab needs) plus all
    prefixes (length 2..max_len) of the top_k most frequent words
    (count desc, word asc — a total order). One column ``tok``.

    Dimension-sized throughout: the word table is already the distinct
    vocabulary, the top-k is a TakeOrdered, and prefixes explode at most
    max_len rows per top word."""
    chars = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.col("word").substr(i, F.lit(1)),
            )
        ).alias("tok")
    )
    top = words.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(top_k)
    prefixes = top.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.least(F.lit(max_len), F.length("word"))),
                lambda i: F.col("word").substr(F.lit(1), i),
            )
        ).alias("tok")
    )
    return chars.union(prefixes).distinct()


def wordpiece_segment(
    words: DataFrame, vocab: DataFrame, max_len: int = 6
) -> DataFrame:
    """Greedy maximal-munch (leftmost-longest) segmentation of each
    distinct word against a broadcast vocabulary — the WordPiece/
    tokenizer APPLY step, as pure column algebra (no Python in the
    loop, no iteration over the corpus).

    Shape: candidates = every (start, len<=max_len) substring of each
    word that exists in the vocab (broadcast hash join); the longest
    candidate per (word, start) survives a map-side-combinable max; the
    greedy scan is then a per-word ``aggregate`` fold over the
    start-sorted candidate array — if a candidate begins exactly where
    the cursor stands it is taken (it is the longest there) and the
    cursor jumps its length, otherwise it is skipped. Single-character
    coverage in the vocab guarantees progress, so the fold always
    consumes the whole word. Everything is dimension-sized (distinct
    words, not corpus rows) — the same trick that makes distributed BPE
    training tractable; 100 TB of text changes only the word-count
    aggregate that feeds this."""
    starts = words.select(
        "word",
        "cnt",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("start"),
    )
    cands = starts.select(
        "word",
        "cnt",
        "start",
        F.explode(
            F.sequence(
                F.lit(1), F.least(F.lit(max_len), F.length("word") - F.col("start") + 1)
            )
        ).alias("len"),
    ).withColumn("tok", F.col("word").substr(F.col("start"), F.col("len")))
    hits = cands.join(F.broadcast(vocab), "tok")
    best = hits.groupBy("word", "cnt", "start").agg(F.max("len").alias("len"))
    arr = best.groupBy("word", "cnt").agg(
        F.sort_array(F.collect_list(F.struct("start", "len"))).alias("__cs")
    )
    acc0 = F.struct(
        F.lit(1).cast("int").alias("pos"), F.array().cast("array<string>").alias("pieces")
    )
    fold = F.aggregate(
        F.col("__cs"),
        acc0,
        lambda acc, x: F.when(
            x["start"] == acc["pos"],
            F.struct(
                (acc["pos"] + x["len"]).cast("int").alias("pos"),
                F.concat(
                    acc["pieces"],
                    F.array(F.col("word").substr(x["start"], x["len"])),
                ).alias("pieces"),
            ),
        ).otherwise(acc),
    )
    return arr.select(
        "word",
        "cnt",
        F.size(fold["pieces"]).cast("long").alias("n_pieces"),
        F.array_join(fold["pieces"], " ").alias("pieces"),
    )
