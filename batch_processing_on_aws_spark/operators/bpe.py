"""BPE tokenizer induction (extension surface; LLM-pipeline M-ops).

Learning a byte-pair-encoding merge table is the tokenizer-training
step of every LLM data pipeline (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"; the algorithm behind
GPT-2's tokenizer and SentencePiece's BPE mode). The engine already
counts BPE-ish tokens (`textstats.bpe_ish_token_count`); this module
TRAINS the merges.

Scale shape — the part that matters at 100 TB: the corpus is touched
EXACTLY ONCE, by the word-frequency aggregation (map-side partials,
one shuffle on the word key). Everything after runs on the
vocabulary-sized (word, count, symbols) table — the same reduction
every production BPE trainer (HuggingFace tokenizers, SentencePiece)
performs, because merge statistics are a pure function of the word
histogram, not the corpus. Each merge round is one vocab-sized
pair-count aggregate (JVM expressions) plus one ONE-ROW collect (the
argmax pair) plus one Arrow-batched merge application; lineage is
truncated by localCheckpoint every few rounds like the connected-
components loop. n_merges bounds the rounds; per-round cost is
O(vocab), independent of corpus size.

The merge APPLICATION inside the loop is a Pandas UDF: replacing
adjacent symbol pairs left-to-right needs lookahead over the array,
which Spark's higher-order functions cannot express without a
quadratic `aggregate` accumulator — this is the documented
"genuinely can't express with built-ins" case, and it runs over the
vocab table (thousands of rows), never the corpus.

Determinism: the argmax pair breaks ties by (count desc, left asc,
right asc), and word splitting is a pure function of the text — the
learned merge table is bit-identical across runs, partitionings, and
cluster sizes. End-of-word is marked with the classic ``</w>``
sentinel so cross-word-boundary statistics never mix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textstats import tokens

EOW = "</w>"


def _word_histogram(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) corpus word-frequency table — the single corpus-sized
    pass; lowercased like the sibling textstats operators."""
    toks = F.transform(tokens(F.col(text_col)), lambda x: F.lower(x))
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _histogram_for(
    df: DataFrame, text_col: str, word_histogram: DataFrame | None
) -> DataFrame:
    """The (word, n) histogram a tokenizer trainer runs on. Callers
    training SEVERAL tokenizer families on the SAME corpus
    (tokenizer_family_report) pass ``word_histogram`` so the
    corpus-sized tokenize+explode+groupBy pass runs once, not once per
    family; it must be ``_word_histogram(df, text_col)`` for the same
    ``text_col``, already materialized (localCheckpoint/persist). Its
    schema is checked here; its content is the caller's contract."""
    if word_histogram is None:
        return _word_histogram(df, text_col).localCheckpoint()
    types = {f.name: f.dataType for f in word_histogram.schema.fields}
    if not isinstance(types.get("word"), T.StringType):
        raise ValueError(
            "word_histogram needs a string 'word' column "
            "(pass _word_histogram(df, text_col))"
        )
    if not isinstance(types.get("n"), T.IntegralType):
        raise ValueError(
            "word_histogram needs an integral 'n' column "
            "(pass _word_histogram(df, text_col))"
        )
    return word_histogram


def _symbolize(words: DataFrame) -> DataFrame:
    """Add the per-word symbol array: characters + the ``</w>``
    end-of-word sentinel."""
    return words.withColumn(
        "syms",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))),
    )


def _symbolize_wp(words: DataFrame) -> DataFrame:
    """WordPiece symbolization: first character plain, every later
    character ``##``-prefixed (no end-of-word sentinel — the
    continuation prefix carries the boundary information)."""
    chars = F.split(F.col("word"), "")
    return words.withColumn(
        "syms",
        F.transform(
            chars,
            lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit("##"), c)),
        ),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, cnt): adjacent-symbol pair frequencies weighted by
    word count — JVM expressions only, map-side partials."""
    syms = F.col("syms")
    k = F.size(syms)
    pairs = F.when(
        k >= 2,
        F.transform(
            F.sequence(F.lit(0), k - 2),
            lambda i: F.struct(
                F.element_at(syms, i + 1).alias("left"),
                F.element_at(syms, i + 2).alias("right"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
    return (
        vocab.select(F.col("n"), F.explode(pairs).alias("p"))
        .groupBy("p.left", "p.right")
        .agg(F.sum("n").alias("cnt"))
    )


def _apply_merge(
    vocab: DataFrame, left: str, right: str, merged: str | None = None
) -> DataFrame:
    """Replace every adjacent (left, right) with the merged symbol,
    left-to-right — Arrow-batched over the vocab table. ``merged``
    defaults to plain concatenation (BPE); the WordPiece trainer
    passes its ##-stripped concatenation."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if merged is None:
        merged = left + right

    @pandas_udf("array<string>")
    def _merge(col):
        out = []
        for arr in col:
            res = []
            i, n = 0, len(arr)
            while i < n:
                if i < n - 1 and arr[i] == left and arr[i + 1] == right:
                    res.append(merged)
                    i += 2
                else:
                    res.append(arr[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    return vocab.withColumn("syms", _merge(F.col("syms")))


def _learn_bpe_local(
    word_counts: list[tuple[str, int]], n_merges: int, min_pair_count: int
) -> list[tuple[int, str, str, str, int]]:
    """The merge loop on a driver-local word histogram — the SAME
    algorithm as the distributed loop below, statement for statement
    (adjacent-pair counts weighted by word frequency, argmax with
    (count desc, left asc, right asc) tie-break, left-to-right merge
    application), so the learned table is bit-identical; pinned by
    tests/test_bpe.py::test_local_and_distributed_paths_agree."""
    vocab: list[list] = [[list(w) + [EOW], n] for w, n in word_counts]
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_pair_count:
            break
        merges.append((r, left, right, left + right, cnt))
        for item in vocab:
            syms = item[0]
            i, out = 0, []
            n_s = len(syms)
            while i < n_s:
                if i < n_s - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            item[0] = out
    return merges


def learn_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    min_pair_count: int = 2,
    checkpoint_every: int = 5,
    local_histogram_max_words: int = 500_000,
    word_histogram: DataFrame | None = None,
) -> DataFrame:
    """Learn a BPE merge table from a corpus.

    Output: (rank, left, right, merged, pair_count) — one row per
    learned merge, rank 0..n-1 in learning order (the order IS the
    tokenizer: application must replay it). Stops early when no pair
    reaches ``min_pair_count``.

    The driver holds ONE (left, right, count) row per round — the
    argmax — plus the final n_merges-row table; never data-sized
    state — EXCEPT on the bounded fast path: when the word histogram
    (the vocab-sized reduction every production trainer works from)
    has at most ``local_histogram_max_words`` distinct words, it is
    collected once and the merge loop runs driver-local. That is how
    HuggingFace tokenizers / SentencePiece train — the corpus pass is
    distributed, the merge loop is not corpus-sized — and it removes
    the n_merges × (aggregate job + one-row collect) round-trip
    latency that dominated the distributed loop (~0.24 s/round). The
    cap bounds driver memory like a broadcast dim (500 k words ×
    ~50 B ≈ 25 MB); above it — a 100 TB multilingual corpus — the
    distributed loop below runs unchanged. Set it to 0 to force the
    distributed path.

    Batching several merges per aggregate round was considered and
    rejected for exactness: merging pair #1 creates new pairs whose
    counts can reach pair #1's count, so on ties a batched pair #2
    can differ from what sequential BPE would learn; only a recount
    between merges (which both paths here do) is bit-faithful.

    ``word_histogram`` (optional): the precomputed
    ``_word_histogram(df, text_col)`` for the SAME ``text_col``,
    already materialized — shared by several trainers on one corpus.
    A frame without a string ``word`` or an integral ``n`` column is
    rejected with ValueError.
    """
    spark = df.sparkSession
    hist = _histogram_for(df, text_col, word_histogram)
    if (
        local_histogram_max_words
        and hist.count() <= local_histogram_max_words
    ):
        merges = _learn_bpe_local(
            [(r["word"], int(r["n"])) for r in hist.collect()],
            n_merges,
            min_pair_count,
        )
        return spark.createDataFrame(
            merges,
            "rank long, left string, right string, merged string, pair_count long",
        )
    vocab = _symbolize(hist).localCheckpoint()
    merges = []
    for r in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_pair_count:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
        merges.append((r, left, right, left + right, cnt))
        vocab = _apply_merge(vocab, left, right)
        if (r + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint()
    return spark.createDataFrame(
        merges, "rank long, left string, right string, merged string, pair_count long"
    )


def apply_bpe(
    df: DataFrame,
    merges: DataFrame | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment each document with a learned merge table: (id, pieces,
    n_pieces), where ``pieces`` is the BPE symbol sequence of the
    lowercased whitespace words (each ending in ``</w>``).

    The merge list is rank-ordered and BROADCAST inside one Arrow-
    batched pass over the documents (one UDF evaluation applies ALL
    merges per word, with a per-batch word memo — each distinct word
    is segmented once per batch, the standard trick that makes
    tokenization throughput track the vocabulary, not the token
    count). This is the corpus-sized consumer of :func:`learn_bpe`'s
    vocab-sized training loop.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if isinstance(merges, DataFrame):
        ordered = [
            (r["left"], r["right"])
            for r in merges.orderBy("rank").collect()  # n_merges rows
        ]
    else:
        ordered = list(merges)

    def _segment(word: str) -> list[str]:
        syms = list(word) + [EOW]
        for left, right in ordered:
            i, out = 0, []
            n = len(syms)
            while i < n:
                if i < n - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
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


def tokenizer_fertility(
    df: DataFrame,
    merges: DataFrame | list[tuple[str, str]],
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group tokenizer health report over a learned merge table:
    (group, n_docs, n_words, n_pieces, fertility, chars_per_piece).

    FERTILITY — mean BPE pieces per word — is the standard metric for
    how well a tokenizer fits a corpus slice (SentencePiece reports
    it; multilingual pipelines track it per language/source because a
    high-fertility slice trains at a token-budget discount and signals
    vocabulary mismatch). chars_per_piece is the compression view of
    the same fit (word chars + the per-word ``</w>`` sentinel, divided
    by pieces).

    Composition: :func:`apply_bpe` (corpus-sized, Arrow-batched, memo
    per batch) → join the group column back by id → one hash-agg.
    Word counts use the SAME whitespace split as application, so
    fertility is exactly n_pieces / n_words. Ratios are rounded to 6
    decimals from exact BIGINT sums — hash-portable across engines.
    Empty-text docs count toward n_docs but contribute no words or
    pieces; an all-empty group reports NULL ratios (0/0) rather than
    a fake 0.
    """
    pieces = apply_bpe(df, merges, text_col=text_col, id_col=id_col)
    toks = tokens(F.col(text_col))
    words = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.size(toks).cast("long").alias("n_words"),
        (
            F.aggregate(
                F.transform(toks, lambda w: F.length(w).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            + F.size(toks) * F.lit(len(EOW))
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
