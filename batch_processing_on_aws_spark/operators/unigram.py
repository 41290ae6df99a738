"""Unigram-LM tokenizer induction (SentencePiece-style; extension
surface, LLM-pipeline M-ops) — the second trainer family next to BPE
(`operators/bpe.py`).

Kudo 2018 ("Subword Regularization", arXiv:1804.10959) trains a
unigram language model over subword pieces by EM: seed a large
candidate vocabulary from frequent substrings, alternate
(E) segment the corpus under current piece probabilities with
(hard-EM here) Viterbi, and (M) re-estimate piece probabilities from
usage counts. This module implements that loop with the engine's
hash-portability conventions so the learned vocabulary, the
segmentations, and the per-source fertility report are ALL
bit-identical cross-engine:

- **integer micro-nat scores** — every log-probability is quantized
  ONCE to `round(ln(p) * 1e6)` BIGINT (the `bigram_lm_scores` /
  `psi_numeric_drift` trick); Viterbi then maximizes an INTEGER sum,
  so best-path comparisons are exact in any engine.
- **deterministic tie-breaks everywhere** — seed selection by
  (count desc, piece asc); Viterbi by (score desc, fewer pieces,
  lexicographically-smallest wrapped-piece path); rounding is
  half-away-from-zero (the Spark/DuckDB convention, NOT Python's
  banker's rounding).
- **scale shape** — the corpus is touched exactly once, by the word
  histogram (map-side partials, one shuffle); seeding, EM, and the
  final vocabulary all run on the vocab-sized (word, count) table,
  exactly like SentencePiece (and like `learn_bpe`). The model state
  (piece -> score) is bounded by the seed cap — kilobytes — and rides
  task closures like the IVF centroids. Words longer than
  ``max_word_len`` are treated as atomic out-of-model pieces (the
  UNK convention) so the Viterbi DP depth is bounded by a constant,
  not by pathological tokens.

The Viterbi E-step over the word histogram is the documented
"genuinely can't express with built-ins" Pandas-UDF case (a DP with
backpointers over each word), and it runs over DISTINCT WORDS — never
the corpus. Like `learn_bpe`, a bounded driver-local fast path
(``local_histogram_max_words``) runs the EM loop on the collected
histogram; the distributed twin (Arrow-batched Viterbi per round) is
pinned bit-identical by tests/test_unigram.py.

Reference scope: the reference pipeline has no tokenizer surface;
this extends the engine's training-data story (SURVEY.md §2.10
extension ops) beside `learn_bpe` so the fertility report can compare
tokenizer families.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import _histogram_for

SEP = "\x1f"  # piece wrapper in path encodings (never occurs in text)


def _iround(x: float) -> int:
    """Half-away-from-zero integer rounding — the Spark `F.round` /
    DuckDB `round` convention (Python's built-in round() is
    half-to-even and would disagree on exact .5 boundaries)."""
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _lp_micro(count: int, denom_total: int) -> int:
    """Add-one-smoothed log-probability in integer micro-nats:
    round(ln((count+1) / denom_total) * 1e6). ``denom_total`` already
    includes the +V smoothing mass."""
    return _iround(math.log((count + 1) / denom_total) * 1_000_000.0)


def _viterbi(
    word: str, scores: dict[str, int], max_piece_len: int
) -> tuple[int, list[str]] | None:
    """Best segmentation of ``word`` under integer piece scores:
    maximize the score sum, tie-break to fewer pieces, then to the
    lexicographically smallest wrapped-piece path (the exact order
    the DuckDB oracle's window replays). Returns (score, pieces) or
    None when no segmentation exists (a character absent from the
    model)."""
    n = len(word)
    # dp[j]: (neg_score, n_pieces, path_str) for the best prefix of
    # length j — stored pre-negated so tuple min() IS the tie-break
    dp: list[tuple[int, int, str] | None] = [None] * (n + 1)
    dp[0] = (0, 0, "")
    for j in range(1, n + 1):
        best: tuple[int, int, str] | None = None
        for length in range(1, min(max_piece_len, j) + 1):
            prev = dp[j - length]
            if prev is None:
                continue
            lp = scores.get(word[j - length : j])
            if lp is None:
                continue
            wrapped = SEP + word[j - length : j] + SEP
            cand = (
                prev[0] - lp,
                prev[1] + 1,
                prev[2] + (" " if prev[2] else "") + wrapped,
            )
            if best is None or cand < best:
                best = cand
        dp[j] = best
    if dp[n] is None:
        return None
    neg_score, _, path = dp[n]
    return -neg_score, [p[1:-1] for p in path.split(" ")]


def _seed_local(
    word_counts: list[tuple[str, int]],
    max_piece_len: int,
    n_multi_seed: int,
    max_word_len: int,
) -> list[tuple[str, int]]:
    """Seed vocabulary from a word histogram: EVERY single character
    (coverage) plus the ``n_multi_seed`` most frequent multi-char
    substrings, counts weighted by word frequency over all (possibly
    overlapping) positions. Deterministic: (count desc, piece asc)."""
    counts: dict[str, int] = {}
    for word, n in word_counts:
        if len(word) > max_word_len:
            continue
        for i in range(len(word)):
            for length in range(1, min(max_piece_len, len(word) - i) + 1):
                piece = word[i : i + length]
                counts[piece] = counts.get(piece, 0) + n
    chars = sorted((p, c) for p, c in counts.items() if len(p) == 1)
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) >= 2),
        key=lambda pc: (-pc[1], pc[0]),
    )[:n_multi_seed]
    return chars + sorted(multi)


def _em_rounds_local(
    word_counts: list[tuple[str, int]],
    seed: list[tuple[str, int]],
    n_rounds: int,
    max_piece_len: int,
    max_word_len: int,
) -> tuple[dict[str, int], dict[str, int]]:
    """Hard-EM on a local word histogram: returns the final
    (piece -> usage count, piece -> lp_micro) model. Round 0's scores
    come from the seed substring counts; each round Viterbi-segments
    every word, re-counts piece usage, and re-smooths."""
    vocab = [p for p, _ in seed]
    v = len(vocab)
    tot0 = sum(c for _, c in seed)
    scores = {p: _lp_micro(c, tot0 + v) for p, c in seed}
    usage: dict[str, int] = {p: 0 for p in vocab}
    for _ in range(n_rounds):
        usage = {p: 0 for p in vocab}
        for word, n in word_counts:
            if len(word) > max_word_len:
                continue  # atomic out-of-model piece: no vocab usage
            seg = _viterbi(word, scores, max_piece_len)
            if seg is None:
                continue
            for piece in seg[1]:
                usage[piece] += n
        tot = sum(usage.values())
        scores = {p: _lp_micro(usage[p], tot + v) for p in vocab}
    return usage, scores


def _prune_vocab(usage: dict[str, int], target_vocab: int) -> list[str]:
    """SentencePiece-style vocabulary cut: every single character
    stays (coverage — dropping one would make some word
    unsegmentable), multi-char pieces compete for the remaining
    slots by final-round Viterbi usage with the engine's
    deterministic (usage desc, piece asc) tie-break. Returns the
    surviving pieces; callers re-run one EM round on the cut so the
    probabilities renormalize over the smaller vocabulary (usage mass
    from dropped pieces redistributes onto their survivors)."""
    chars = sorted(p for p in usage if len(p) == 1)
    slots = max(0, target_vocab - len(chars))
    multi = sorted(
        ((p, c) for p, c in usage.items() if len(p) >= 2),
        key=lambda pc: (-pc[1], pc[0]),
    )[:slots]
    return chars + sorted(p for p, _ in multi)


def _seed_distributed(
    hist: DataFrame, max_piece_len: int, n_multi_seed: int, max_word_len: int
) -> list[tuple[str, int]]:
    """The distributed twin of :func:`_seed_local`: substring
    generation + weighted counts as JVM array expressions over the
    word histogram, chars collected whole (alphabet-sized), multi-char
    pieces via TakeOrdered (count desc, piece asc) — bounded driver
    state either way."""
    word, n = F.col("word"), F.col("n")
    eligible = hist.where(F.length(word) <= max_word_len)
    starts = F.sequence(F.lit(1), F.length(word))
    pieces = F.flatten(
        F.transform(
            starts,
            lambda s: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len), F.length(word) - s + F.lit(1)
                    ),
                ),
                lambda length: F.substring(word, s, length),
            ),
        )
    )
    counts = (
        eligible.select(n, F.explode(pieces).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").alias("c"))
    )
    chars = [
        (r["piece"], int(r["c"]))
        for r in counts.where(F.length("piece") == 1).collect()
    ]
    multi = [
        (r["piece"], int(r["c"]))
        for r in counts.where(F.length("piece") >= 2)
        .orderBy(F.col("c").desc(), F.col("piece").asc())
        .limit(n_multi_seed)
        .collect()
    ]
    return sorted(chars) + sorted(multi)


def _viterbi_pieces_udf(scores: dict[str, int], max_piece_len: int,
                        max_word_len: int):
    """Arrow-batched Viterbi over a word column — the model dict rides
    the closure (bounded by the seed cap). Long words come back as
    their own atomic piece; unsegmentable words likewise (apply-time
    coverage fallback; never fires when applying to the training
    corpus, whose every character is in the seed)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _pieces(col):
        out = []
        for word in col:
            if len(word) > max_word_len:
                out.append([word])
                continue
            seg = _viterbi(word, scores, max_piece_len)
            out.append([word] if seg is None else seg[1])
        return pd.Series(out)

    return _pieces


def _em_rounds_distributed(
    eligible: DataFrame,
    seed: list[tuple[str, int]],
    n_rounds: int,
    max_piece_len: int,
    max_word_len: int,
) -> tuple[dict[str, int], dict[str, int]]:
    """The distributed twin of :func:`_em_rounds_local`: each round is
    one Arrow-batched Viterbi pass over the (word, n) histogram (the
    model dict rides the closure) + one vocab-sized usage hash-agg;
    the M-step re-smooths driver-side over the model-sized counts.
    Pinned bit-identical to the local path by tests/test_unigram.py."""
    vocab = [p for p, _ in seed]
    v = len(vocab)
    tot0 = sum(c for _, c in seed)
    scores = {p: _lp_micro(c, tot0 + v) for p, c in seed}
    usage = {p: 0 for p in vocab}
    for _ in range(n_rounds):
        pieces_udf = _viterbi_pieces_udf(scores, max_piece_len, max_word_len)
        used = (
            eligible.select(
                F.col("n"), F.explode(pieces_udf(F.col("word"))).alias("p")
            )
            .groupBy("p")
            .agg(F.sum("n").alias("c"))
            .collect()
        )
        usage = {p: 0 for p in vocab}
        for r in used:
            if r["p"] in usage:  # atomic fallbacks stay out-of-model
                usage[r["p"]] = int(r["c"])
        tot = sum(usage.values())
        scores = {p: _lp_micro(usage[p], tot + v) for p in vocab}
    return usage, scores


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    n_multi_seed: int = 150,
    n_rounds: int = 2,
    max_word_len: int = 16,
    local_histogram_max_words: int = 500_000,
    target_vocab: int | None = None,
    word_histogram: DataFrame | None = None,
) -> DataFrame:
    """Train the unigram-LM piece vocabulary.

    Output: (piece, n_uses, lp_micro) — one row per vocabulary piece
    with its final-round Viterbi usage count and add-one-smoothed
    integer micro-nat log-probability. Like ``learn_bpe``, the corpus
    is reduced to the word histogram distributed, then the EM loop
    runs driver-local when the histogram is bounded
    (``local_histogram_max_words``; SentencePiece's own shape) and as
    per-round Arrow-batched distributed jobs above the cap — the two
    paths are pinned bit-identical by tests/test_unigram.py.

    ``target_vocab`` adds the SentencePiece PRUNE step: after the EM
    rounds, keep every single character plus the most-used multi-char
    pieces up to the target, then run ONE more EM round on the cut so
    probabilities renormalize over the surviving vocabulary (dropped
    pieces' usage mass falls back onto their sub-pieces). Default
    None keeps the full seed — the oracle-pinned registry
    configuration.

    ``word_histogram``: as in ``learn_bpe`` — the precomputed
    ``_word_histogram(df, text_col)`` for the same ``text_col``;
    checked for a string ``word`` and an integral ``n`` column."""
    spark = df.sparkSession
    hist = _histogram_for(df, text_col, word_histogram)
    if (
        local_histogram_max_words
        and hist.count() <= local_histogram_max_words
    ):
        word_counts = [(r["word"], int(r["n"])) for r in hist.collect()]
        seed = _seed_local(
            word_counts, max_piece_len, n_multi_seed, max_word_len
        )

        def em(s, r):
            return _em_rounds_local(
                word_counts, s, r, max_piece_len, max_word_len
            )
    else:
        eligible = hist.where(F.length("word") <= max_word_len)
        seed = _seed_distributed(
            hist, max_piece_len, n_multi_seed, max_word_len
        )

        def em(s, r):
            return _em_rounds_distributed(
                eligible, s, r, max_piece_len, max_word_len
            )

    usage, scores = em(seed, n_rounds)
    if target_vocab is not None and target_vocab < len(usage):
        kept = _prune_vocab(usage, target_vocab)
        # the pruned round re-seeds from the final usage counts, the
        # same counts-to-scores convention as the substring seed
        usage, scores = em([(p, usage[p]) for p in kept], 1)
    return spark.createDataFrame(
        [(p, usage[p], scores[p]) for p in sorted(usage)],
        "piece string, n_uses long, lp_micro long",
    )


def _model_scores(vocab: DataFrame | list) -> dict[str, int]:
    if isinstance(vocab, DataFrame):
        return {r["piece"]: int(r["lp_micro"]) for r in vocab.collect()}
    return dict(vocab)


def apply_unigram(
    df: DataFrame,
    vocab: DataFrame | list,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 4,
    max_word_len: int = 16,
) -> DataFrame:
    """Segment each document with a trained unigram model: (id,
    pieces, n_pieces). One Arrow-batched corpus pass with a per-batch
    word memo (each distinct word Viterbi-segmented once per batch —
    the same trick as ``apply_bpe``); the model dict is broadcast in
    the closure. Words longer than ``max_word_len`` pass through as
    atomic pieces."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    scores = _model_scores(vocab)

    @pandas_udf("array<string>")
    def _tokenize(col):
        memo: dict[str, list[str]] = {}
        out = []
        for text in col:
            pieces: list[str] = []
            for w in (text or "").lower().split():
                got = memo.get(w)
                if got is None:
                    if len(w) > max_word_len:
                        got = [w]
                    else:
                        seg = _viterbi(w, scores, max_piece_len)
                        got = [w] if seg is None else seg[1]
                    memo[w] = got
                pieces.extend(got)
            out.append(pieces)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        _tokenize(F.col(text_col)).alias("pieces"),
    ).withColumn("n_pieces", F.size("pieces").cast("long"))


def unigram_fertility(
    df: DataFrame,
    vocab: DataFrame | list,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
    max_piece_len: int = 4,
    max_word_len: int = 16,
) -> DataFrame:
    """Per-group fertility report for the unigram tokenizer — the
    same health metrics :func:`~.bpe.tokenizer_fertility` reports for
    BPE (pieces per word; chars per piece, WITHOUT the BPE ``</w>``
    sentinel since unigram pieces carry no end-of-word marker), so
    the two trainer families compare on one table. Ratios round from
    exact BIGINT sums — hash-portable."""
    from .textstats import tokens

    pieces = apply_unigram(
        df, vocab, text_col=text_col, id_col=id_col,
        max_piece_len=max_piece_len, max_word_len=max_word_len,
    )
    toks = tokens(F.col(text_col))
    words = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars"),
    )
    return (
        words.join(pieces.select(id_col, "n_pieces"), id_col)
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.round(
                F.sum("n_pieces") / F.nullif(F.sum("n_words"), F.lit(0)), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars") / F.nullif(F.sum("n_pieces"), F.lit(0)), 6
            ).alias("chars_per_piece"),
        )
    )
