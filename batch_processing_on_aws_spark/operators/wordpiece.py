"""WordPiece tokenizer induction (extension surface; LLM-pipeline
M-ops — the third trainer family beside BPE and unigram-LM).

WordPiece (Schuster & Nakajima 2012; the BERT tokenizer) differs from
BPE in ONE load-bearing place: the merge argmax maximizes the
LIKELIHOOD GAIN score ``count(l,r) / (count(l) · count(r))`` instead
of the raw pair frequency — rare-but-strongly-associated pairs merge
before frequent-but-independent ones (this is why BERT vocabularies
pick up morphemes earlier than BPE ones do). Continuation symbols
carry the ``##`` prefix instead of BPE's ``</w>`` end-of-word
sentinel: a word's first symbol is its first character plain, every
later one is ``##``-prefixed, and merging (l, r) concatenates l with
r's ``##`` stripped — so a fully-merged word is its first-position
form and sub-word boundaries stay visible.

Scale shape — identical to ``bpe.learn_bpe`` and deliberately so: ONE
corpus-sized word-frequency pass, then vocab-sized merge rounds (a
pair-count aggregate + a symbol-count aggregate + a one-row argmax
collect + an Arrow-batched merge application). The bounded
driver-local fast path and the distributed loop are statement-for-
statement twins, pinned bit-identical in tests/test_wordpiece.py.

Cross-engine exactness of the score argmax: count(l,r), count(l),
count(r) are exact BIGINTs; the score is ONE division of a BIGINT by
a BIGINT product, which both engines evaluate to the same IEEE double
whenever the operands are exactly representable (counts < 2^26 keep
the product under 2^53 — at vocab scale, orders beyond any real
corpus's pair table; the scores only ORDER the argmax, they are never
accumulated). Ties break (left asc, right asc), so the learned table
replays hash-exact in DuckDB (``_wp_learn_sql`` unrolls the rounds as
materialized CTEs, the ``_bpe_learn_cte_chain`` move).

Application is offered both ways:

- :func:`apply_wordpiece` — merge REPLAY, the training-consistent
  segmenter (each word re-runs the learned merge order; this is the
  state the trainer itself ends in, which is what makes the
  ``wordpiece_tokenized_docs`` oracle's memo-lookup replay exact).
- :func:`wordpiece_greedy` — greedy longest-match-first against the
  final vocabulary with ``[UNK]`` for unmatchable words: the BERT
  RUNTIME tokenizer, the form that handles out-of-training words.
  Greedy max-munch over a set is not SQL-expressible row-by-row, so
  its properties (longest match, round-trip, UNK) pin in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import _apply_merge, _histogram_for, _symbolize_wp, _word_histogram
from .textstats import tokens

CONT = "##"


def _strip_cont(sym: str) -> str:
    return sym[len(CONT):] if sym.startswith(CONT) else sym


def _learn_wordpiece_local(
    word_counts: list[tuple[str, int]], n_merges: int, min_pair_count: int
) -> list[tuple[int, str, str, str, int, int, int]]:
    """The merge loop on a driver-local word histogram — the SAME
    algorithm as the distributed loop, statement for statement
    (likelihood-score argmax over exact integer counts, (left asc,
    right asc) tie-break, left-to-right merge application), so the
    learned table is bit-identical; pinned by
    tests/test_wordpiece.py::test_local_and_distributed_paths_agree."""
    vocab: list[list] = [
        [[w[0]] + [CONT + c for c in w[1:]], n] for w, n in word_counts if w
    ]
    out: list[tuple[int, str, str, str, int, int, int]] = []
    for r in range(n_merges):
        pair_n: dict[tuple[str, str], int] = {}
        sym_n: dict[str, int] = {}
        for syms, n in vocab:
            for s in syms:
                sym_n[s] = sym_n.get(s, 0) + n
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_n[p] = pair_n.get(p, 0) + n
        best = None
        for (l, rgt), cnt in pair_n.items():
            if cnt < min_pair_count:
                continue
            score = cnt / (sym_n[l] * sym_n[rgt])
            key = (-score, l, rgt)
            if best is None or key < best[0]:
                best = (key, l, rgt, cnt, sym_n[l], sym_n[rgt])
        if best is None:
            break
        _, l, rgt, cnt, lc, rc = best
        merged = l + _strip_cont(rgt)
        out.append((r, l, rgt, merged, cnt, lc, rc))
        for item in vocab:
            syms = item[0]
            i, res = 0, []
            n_s = len(syms)
            while i < n_s:
                if i < n_s - 1 and syms[i] == l and syms[i + 1] == rgt:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            item[0] = res
    return out


_MERGE_SCHEMA = (
    "rank long, left string, right string, merged string, "
    "pair_count long, left_count long, right_count long"
)


def learn_wordpiece(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    min_pair_count: int = 2,
    checkpoint_every: int = 5,
    local_histogram_max_words: int = 500_000,
    word_histogram: DataFrame | None = None,
) -> DataFrame:
    """Learn a WordPiece merge table from a corpus.

    Output: (rank, left, right, merged, pair_count, left_count,
    right_count) — one row per merge in learning order, with the
    exact integer operands of the likelihood score kept in the row so
    the selection is auditable (and the golden's hash covers only
    integers). Stops early when no pair reaches ``min_pair_count``.

    Same driver-state contract as ``learn_bpe``: the bounded
    histogram fast path (vocab collected once, loop driver-local) or
    the distributed loop (two vocab-sized aggregates + a one-row
    argmax collect per round); set ``local_histogram_max_words=0`` to
    force the distributed path.

    ``word_histogram``: as in ``learn_bpe`` — the precomputed
    ``_word_histogram(df, text_col)`` for the same ``text_col``;
    checked for a string ``word`` and an integral ``n`` column."""
    spark = df.sparkSession
    hist = _histogram_for(df, text_col, word_histogram)
    if (
        local_histogram_max_words
        and hist.count() <= local_histogram_max_words
    ):
        rows = _learn_wordpiece_local(
            [(r["word"], int(r["n"])) for r in hist.collect()],
            n_merges,
            min_pair_count,
        )
        return spark.createDataFrame(rows, _MERGE_SCHEMA)
    from .bpe import _pair_counts

    vocab = _symbolize_wp(hist).localCheckpoint()
    merges = []
    for r in range(n_merges):
        sym_counts = (
            vocab.select(F.col("n"), F.explode("syms").alias("sym"))
            .groupBy("sym")
            .agg(F.sum("n").alias("scnt"))
        )
        lc = sym_counts.select(
            F.col("sym").alias("left"), F.col("scnt").alias("lc")
        )
        rc = sym_counts.select(
            F.col("sym").alias("right"), F.col("scnt").alias("rc")
        )
        top = (
            _pair_counts(vocab)
            .where(F.col("cnt") >= min_pair_count)
            .join(lc, "left")
            .join(rc, "right")
            .withColumn("score", F.col("cnt") / (F.col("lc") * F.col("rc")))
            .orderBy(
                F.col("score").desc(),
                F.col("left").asc(),
                F.col("right").asc(),
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        t = top[0]
        merged = t["left"] + _strip_cont(t["right"])
        merges.append(
            (
                r,
                t["left"],
                t["right"],
                merged,
                int(t["cnt"]),
                int(t["lc"]),
                int(t["rc"]),
            )
        )
        vocab = _apply_merge(vocab, t["left"], t["right"], merged=merged)
        if (r + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint()
    return spark.createDataFrame(merges, _MERGE_SCHEMA)


def apply_wordpiece(
    df: DataFrame,
    merges: DataFrame | list[tuple[str, str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-consistent segmentation: replay the learned merge
    order per word (Arrow-batched, per-batch word memo — the
    ``apply_bpe`` pass with WordPiece's symbolization and merged
    forms). Output: (id, pieces, n_pieces)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if isinstance(merges, DataFrame):
        ordered = [
            (r["left"], r["right"], r["merged"])
            for r in merges.orderBy("rank").collect()  # n_merges rows
        ]
    else:
        ordered = list(merges)

    def _segment(word: str) -> list[str]:
        syms = [word[0]] + [CONT + c for c in word[1:]]
        for left, right, merged in ordered:
            i, out = 0, []
            n = len(syms)
            while i < n:
                if i < n - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    @pandas_udf("array<string>")
    def _tokenize(col):
        memo: dict[str, list[str]] = {}
        out = []
        for text in col:
            pieces: list[str] = []
            for w in (text or "").lower().split():
                got = memo.get(w)
                if got is None:
                    got = memo[w] = _segment(w)
                pieces.extend(got)
            out.append(pieces)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        _tokenize(F.col(text_col)).alias("pieces"),
    ).withColumn("n_pieces", F.size("pieces").cast("long"))


def wordpiece_vocab(
    df: DataFrame,
    merges: DataFrame | list,
    text_col: str = "text",
) -> set[str]:
    """The full WordPiece vocabulary a runtime tokenizer ships with:
    the training corpus's ALPHABET (every character in first-position
    plain form and ``##``-continuation form) plus every merged
    symbol. One vocab-sized distinct over the symbolized word
    histogram; the result is model-sized driver state (like a merge
    table), which is what :func:`wordpiece_greedy` consumes."""
    alpha = (
        _symbolize_wp(_word_histogram(df, text_col))
        .select(F.explode("syms").alias("s"))
        .distinct()
        .collect()
    )
    vset = {r["s"] for r in alpha}
    rows = (
        merges.collect() if isinstance(merges, DataFrame) else list(merges)
    )
    for r in rows:
        vset.add(r["merged"] if not isinstance(r, tuple) else r[2])
    return vset


def wordpiece_unk_stats(
    probe: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    unk_max_word_chars: int = 100,
) -> DataFrame:
    """Per-group OOV/UNK-rate report: how much of ``probe`` would the
    BERT runtime tokenizer trained on ``train`` map to ``[UNK]`` —
    the tokenizer-coverage number multilingual pipelines track per
    source before committing a vocabulary (a high-UNK slice trains
    on noise).

    Exactness contract: with an ALPHABET-CLOSED vocabulary (what
    :func:`wordpiece_vocab` builds — every observed first-position
    and continuation character is present), greedy longest-match can
    always fall back to single characters, so a word UNKs IFF some
    position's character form is outside the training alphabet (or
    the word exceeds ``unk_max_word_chars`` — the same whole-word
    guard :func:`wordpiece_greedy` applies). That reduction makes
    UNK a pure character-set test: the whole report runs JVM-side
    (no UDF, no greedy loop) and replays exactly in SQL —
    greedy-equivalence is pinned by test. Alphabets are
    position-sensitive (no training word starts with 's' ⇒ plain
    's' is not in the vocabulary), faithfully to how the trainer
    seeds symbols.

    One training-alphabet distinct (vocab-sized, collected like a
    merge table) + one probe-corpus pass with a per-group hash-agg.
    Output: (group, n_words, n_unk_words, unk_rate)."""
    alpha = {
        r["s"]
        for r in _symbolize_wp(_word_histogram(train, text_col))
        .select(F.explode("syms").alias("s"))
        .distinct()
        .collect()
    }
    first_alpha = sorted(s for s in alpha if not s.startswith(CONT))
    cont_alpha = sorted(
        {s[len(CONT):] for s in alpha if s.startswith(CONT)}
    )
    toks = F.transform(tokens(F.col(text_col)), lambda x: F.lower(x))
    words = probe.select(
        F.col(group_col).alias("grp"), F.explode(toks).alias("__w")
    )
    tail = F.when(
        F.length("__w") >= 2,
        F.split(F.expr("substring(__w, 2)"), ""),
    ).otherwise(F.array().cast("array<string>"))
    unk = (
        (F.length("__w") > unk_max_word_chars)
        | ~F.substring("__w", 1, 1).isin(first_alpha)
        | F.exists(tail, lambda c: ~c.isin(cont_alpha))
    )
    return (
        words.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(unk.cast("long")).cast("long").alias("n_unk_words"),
        )
        .withColumn(
            "unk_rate",
            F.round(F.col("n_unk_words") / F.col("n_words"), 6),
        )
    )


def wordpiece_fertility(
    df: DataFrame,
    merges: DataFrame | list[tuple[str, str, str]],
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group fertility report for the WordPiece tokenizer — the
    same health metrics as ``bpe.tokenizer_fertility`` and
    ``unigram.unigram_fertility``, so all THREE trainer families
    compare on one table (chars count raw word characters, no
    sentinel — the ``##`` prefixes are piece markup, not text).
    Ratios round from exact BIGINT sums — hash-portable."""
    from .textstats import tokens

    pieces = apply_wordpiece(df, merges, text_col=text_col, id_col=id_col)
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


def wordpiece_greedy(
    df: DataFrame,
    vocab: DataFrame | set[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    unk: str = "[UNK]",
    max_word_chars: int = 100,
) -> DataFrame:
    """The BERT RUNTIME tokenizer: greedy longest-match-first against
    a vocabulary set — first match tried from the whole word down,
    continuations matched with the ``##`` prefix; a word with any
    unmatchable position emits a single ``unk`` (BERT's whole-word
    UNK semantics), as does a word longer than ``max_word_chars``.
    ``vocab`` is either the symbol set or a ``learn_wordpiece``
    merge table (vocab = initial alphabet of the merges' symbols ∪
    merged forms). Handles out-of-training words — the reason this
    form exists next to the oracled replay segmenter."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if isinstance(vocab, DataFrame):
        # a bare merge table: its symbol closure only — pass
        # ``wordpiece_vocab(corpus, merges)`` for the full
        # alphabet-seeded vocabulary a real tokenizer ships with
        vset: set[str] = set()
        for r in vocab.collect():  # n_merges rows
            vset.update((r["merged"], r["left"], r["right"]))
    else:
        vset = set(vocab)

    def _segment(word: str) -> list[str]:
        if len(word) > max_word_chars:
            return [unk]
        pieces: list[str] = []
        start = 0
        n = len(word)
        while start < n:
            end = n
            cur = None
            while end > start:
                sub = word[start:end]
                if start > 0:
                    sub = CONT + sub
                if sub in vset:
                    cur = sub
                    break
                end -= 1
            if cur is None:
                return [unk]
            pieces.append(cur)
            start = end
        return pieces

    @pandas_udf("array<string>")
    def _tokenize(col):
        memo: dict[str, list[str]] = {}
        out = []
        for text in col:
            pieces: list[str] = []
            for w in (text or "").lower().split():
                got = memo.get(w)
                if got is None:
                    got = memo[w] = _segment(w)
                pieces.extend(got)
            out.append(pieces)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        _tokenize(F.col(text_col)).alias("pieces"),
    ).withColumn("n_pieces", F.size("pieces").cast("long"))
