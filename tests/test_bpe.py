"""BPE tokenizer induction: learned merge table vs a from-scratch
reference implementation, application round-trip, determinism."""

import pytest


def _ref_bpe(word_counts, n_merges, min_pair_count=2):
    """Reference BPE trainer (Sennrich et al. 2016 algorithm, plain
    Python) with the engine's tie-break: (count desc, left asc,
    right asc)."""
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pc = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                pc[pair] = pc.get(pair, 0) + c
        if not pc:
            break
        (left, right), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_pair_count:
            break
        merges.append((left, right, left + right, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


CORPUS = [
    (1, "low low low low low"),
    (2, "lower lower newest newest"),
    (3, "newest newest newest newest widest"),
    (4, "widest widest low lower"),
]


def _counts():
    wc = {}
    for _, text in CORPUS:
        for w in text.split():
            wc[w] = wc.get(w, 0) + 1
    return wc


def test_learn_bpe_matches_reference(spark):
    from batch_processing_on_aws_spark.operators.bpe import learn_bpe

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = [
        (r["left"], r["right"], r["merged"], r["pair_count"])
        for r in learn_bpe(df, n_merges=10).orderBy("rank").collect()
    ]
    want = _ref_bpe(_counts(), 10)
    assert got == want
    assert len(got) >= 5  # the fixture has structure to learn


def test_local_and_distributed_paths_agree(spark):
    """The bounded driver-local merge loop (default when the word
    histogram fits) must learn the EXACT table the distributed loop
    learns — forcing the distributed path via
    ``local_histogram_max_words=0`` pins the equivalence, including
    tie-breaks and early stop."""
    from batch_processing_on_aws_spark.operators.bpe import learn_bpe

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    local = [tuple(r) for r in learn_bpe(df, n_merges=10).orderBy("rank").collect()]
    dist = [
        tuple(r)
        for r in learn_bpe(df, n_merges=10, local_histogram_max_words=0)
        .orderBy("rank")
        .collect()
    ]
    assert local == dist
    assert len(local) >= 5


def test_shared_word_histogram_passthrough(spark):
    """A caller-supplied materialized (word, n) histogram (round-15,
    the tokenizer_family_report one-corpus-pass share) must yield the
    EXACT merge/vocab tables each trainer learns from its own
    histogram — all three families."""
    from batch_processing_on_aws_spark.operators.bpe import (
        _word_histogram,
        learn_bpe,
    )
    from batch_processing_on_aws_spark.operators.unigram import train_unigram
    from batch_processing_on_aws_spark.operators.wordpiece import (
        learn_wordpiece,
    )

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    hist = _word_histogram(df, "text").localCheckpoint(eager=True)
    assert [tuple(r) for r in learn_bpe(
        df, n_merges=10, word_histogram=hist
    ).orderBy("rank").collect()] == [
        tuple(r) for r in learn_bpe(df, n_merges=10).orderBy("rank").collect()
    ]
    assert [tuple(r) for r in learn_wordpiece(
        df, n_merges=10, word_histogram=hist
    ).orderBy("rank").collect()] == [
        tuple(r)
        for r in learn_wordpiece(df, n_merges=10).orderBy("rank").collect()
    ]
    assert [tuple(r) for r in train_unigram(
        df, word_histogram=hist
    ).orderBy("piece").collect()] == [
        tuple(r) for r in train_unigram(df).orderBy("piece").collect()
    ]


@pytest.mark.parametrize("trainer", ["bpe", "unigram", "wordpiece"])
@pytest.mark.parametrize(
    "hist_schema,missing",
    [
        ("w string, n long", "'word'"),
        ("word long, n long", "'word'"),
        ("word string, cnt long", "'n'"),
        ("word string, n double", "'n'"),
    ],
)
def test_word_histogram_schema_is_checked(spark, trainer, hist_schema, missing):
    """A word_histogram= frame without a string `word` or an integral
    `n` column is rejected at the boundary, naming the column."""
    from batch_processing_on_aws_spark.operators.bpe import learn_bpe
    from batch_processing_on_aws_spark.operators.unigram import train_unigram
    from batch_processing_on_aws_spark.operators.wordpiece import (
        learn_wordpiece,
    )

    train = {
        "bpe": learn_bpe, "unigram": train_unigram, "wordpiece": learn_wordpiece,
    }[trainer]
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    bad = spark.createDataFrame([], hist_schema)
    with pytest.raises(ValueError, match=missing):
        train(df, word_histogram=bad)


def test_learn_bpe_deterministic_under_repartition(spark):
    from batch_processing_on_aws_spark.operators.bpe import learn_bpe

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    a = [tuple(r) for r in learn_bpe(df, n_merges=6).orderBy("rank").collect()]
    b = [
        tuple(r)
        for r in learn_bpe(df.repartition(5), n_merges=6)
        .orderBy("rank")
        .collect()
    ]
    assert a == b


def test_apply_bpe_round_trips_and_compresses(spark):
    from batch_processing_on_aws_spark.operators.bpe import apply_bpe, learn_bpe

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges = learn_bpe(df, n_merges=10)
    out = {r["doc_id"]: r for r in apply_bpe(df, merges).collect()}
    for doc_id, text in CORPUS:
        pieces = out[doc_id]["pieces"]
        # lossless: concatenating pieces and dropping the sentinel
        # reconstructs the lowercased text
        rebuilt = "".join(pieces).replace("</w>", " ").strip()
        assert rebuilt == text.lower()
        # compression: fewer pieces than raw characters+sentinels
        raw_syms = sum(len(w) + 1 for w in text.split())
        assert out[doc_id]["n_pieces"] < raw_syms
    # untrained text degrades gracefully to characters
    odd = spark.createDataFrame([(9, "zq xv")], "doc_id long, text string")
    pieces = apply_bpe(odd, merges).collect()[0]["pieces"]
    assert pieces == ["z", "q", "</w>", "x", "v", "</w>"]


def test_learn_bpe_stops_when_dry(spark):
    from batch_processing_on_aws_spark.operators.bpe import learn_bpe

    # every word unique and 1 char: no pair ever reaches min count 2
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    assert learn_bpe(df, n_merges=5).count() == 0


@pytest.mark.parametrize("n", [1, 3])
def test_learn_bpe_respects_merge_budget(spark, n):
    from batch_processing_on_aws_spark.operators.bpe import learn_bpe

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    assert learn_bpe(df, n_merges=n).count() == n


def test_learn_bpe_property_matches_reference(spark):
    """Property check: on random small corpora the Spark trainer's
    merge sequence equals the reference trainer's, including early
    stop. Hypothesis-driven but example-bounded — each example runs a
    real multi-round Spark loop."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from batch_processing_on_aws_spark.operators.bpe import learn_bpe

    words = st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=5),
        min_size=1,
        max_size=12,
    )

    @given(st.lists(words, min_size=1, max_size=4))
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(docs):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [
            (r["left"], r["right"], r["merged"], r["pair_count"])
            for r in learn_bpe(df, n_merges=4).orderBy("rank").collect()
        ]
        wc = {}
        for _, ws in enumerate(docs):
            for w in ws:
                wc[w] = wc.get(w, 0) + 1
        assert got == _ref_bpe(wc, 4)

    check()


def test_tokenizer_fertility_hand_checked(spark):
    from batch_processing_on_aws_spark.operators.bpe import (
        tokenizer_fertility,
    )

    # fixed merge list: ab -> "ab"; words: "ab" -> [ab, </w>] (2 pieces),
    # "aba" -> [ab, a, </w>] (3 pieces), "c" -> [c, </w>] (2 pieces)
    rows = [
        (1, "ab aba", "s1"),
        (2, "c", "s1"),
        (3, "", "s2"),          # empty doc: counts as a doc, no words
        (4, "ab ab", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: r
        for r in tokenizer_fertility(df, [("a", "b")]).collect()
    }
    s1 = got["s1"]
    # s1: words ab, aba, c -> pieces 2+3+2=7, words 3,
    # chars (2+4)+(3+4)+(1+4)=18
    assert (s1["n_docs"], s1["n_words"], s1["n_pieces"]) == (2, 3, 7)
    assert s1["fertility"] == round(7 / 3, 6)
    assert s1["chars_per_piece"] == round(18 / 7, 6)
    s2 = got["s2"]
    # s2: empty doc contributes nothing; "ab ab" -> 2 words, 4 pieces
    assert (s2["n_docs"], s2["n_words"], s2["n_pieces"]) == (2, 2, 4)
    assert s2["fertility"] == 2.0


def test_tokenizer_fertility_all_empty_group_reports_null(spark):
    from batch_processing_on_aws_spark.operators.bpe import (
        tokenizer_fertility,
    )

    df = spark.createDataFrame(
        [(1, "   ", "empty"), (2, "x", "full")],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in tokenizer_fertility(df, []).collect()}
    assert got["empty"]["n_words"] == 0
    assert got["empty"]["fertility"] is None
    assert got["empty"]["chars_per_piece"] is None
    assert got["full"]["n_pieces"] == 2  # [x, </w>]
