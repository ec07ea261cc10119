"""Text-function unit tests on synthetic rows (expression semantics)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions.text import (
    avg_token_len,
    fingerprint,
    langid_guess,
    normalize_text,
    shingles,
    stopword_ratio,
    token_count,
    tokens,
)


def _one(spark, text, expr):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(expr.alias("v")).collect()[0].v


def test_tokens_and_count(spark):
    assert _one(spark, "The quick, brown FOX!", tokens("text")) == [
        "the",
        "quick",
        "brown",
        "fox",
    ]
    assert _one(spark, "", token_count("text")) == 0
    assert _one(spark, "a b a", token_count("text")) == 3


def test_shingles(spark):
    got = _one(spark, "a b c d", shingles(tokens("text"), 3))
    assert got == ["a b c", "b c d"]
    assert _one(spark, "a b", shingles(tokens("text"), 3)) == []
    assert _one(spark, "", shingles(tokens("text"), 3)) == []


def _shingles_ref(toks, n):
    """Pure-Python shingles: space-join each window of n tokens,
    skipping null elements the way concat_ws does; [] below n."""
    return [
        " ".join(t for t in toks[i : i + n] if t is not None)
        for i in range(len(toks) - n + 1)
    ]


def test_shingles_matches_python_reference(spark):
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    ns = (1, 2, 3, 5)
    # token counts 0..max(n)+1, run through the tokenizer
    texts = [" ".join(w.title() + "," for w in words[:c]) for c in range(max(ns) + 2)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        "text", *[shingles(tokens("text"), n).alias(f"n{n}") for n in ns]
    ).collect()
    for r in rows:
        toks = [w.strip(",").lower() for w in r.text.split()]
        for n in ns:
            assert r[f"n{n}"] == _shingles_ref(toks, n), (r.text, n)
    # arrays with null elements keep concat_ws's skip-null strings
    arrs = [["a", None, "c", "d"], [None, None, "x"], [None], []]
    df = spark.createDataFrame([(a,) for a in arrs], "t array<string>")
    rows = df.select(
        "t", *[shingles(F.col("t"), n).alias(f"n{n}") for n in ns]
    ).collect()
    for r in rows:
        for n in ns:
            assert r[f"n{n}"] == _shingles_ref(r.t, n), (r.t, n)


def _lambda_bodies(jexpr):
    """The body of every LambdaFunction in a JVM expression tree."""
    bodies, stack = [], [jexpr]
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName() == "LambdaFunction":
            bodies.append(e.function().toString())
        kids = e.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return bodies


def test_shingles_lambda_bodies_never_tokenize(spark):
    """A lambda body runs once per element and is never CSE'd: a
    tokenizer inside one re-tokenizes the document per shingle."""
    df = spark.createDataFrame([("a b c d",)], "text string")
    plan = df.select(shingles(tokens("text"), 3).alias("v"))._jdf.queryExecution()
    exprs = plan.analyzed().expressions()
    bodies = [
        b for i in range(exprs.size()) for b in _lambda_bodies(exprs.apply(i))
    ]
    assert bodies
    for b in bodies:
        assert "split(" not in b and "lower(" not in b, b


def test_normalize_and_fingerprint(spark):
    assert _one(spark, "  Hello   WORLD ", normalize_text("text")) == "hello world"
    fp1 = _one(spark, "Hello  World", fingerprint("text"))
    fp2 = _one(spark, "hello world", fingerprint("text"))
    assert fp1 == fp2 and len(fp1) == 32


def test_stopword_ratio(spark):
    assert _one(spark, "the cat and the dog", stopword_ratio(tokens("text"))) == 0.6
    assert _one(spark, "", stopword_ratio(tokens("text"))) == 0.0


def test_avg_token_len(spark):
    assert _one(spark, "ab cdef", avg_token_len(tokens("text"))) == 3.0
    assert _one(spark, "", avg_token_len(tokens("text"))) == 0.0


def test_langid_guess(spark):
    assert _one(spark, "the cat is on the mat", langid_guess(tokens("text"))) == "en"
    assert _one(spark, "der hund ist ein tier und das", langid_guess(tokens("text"))) == "de"
    assert _one(spark, "zzz qqq xxx www", langid_guess(tokens("text"))) == "unknown"
    # ties go to the earlier STOPWORDS language ("la" is fr and es,
    # "de" is fr and es too); a ratio equal to the threshold passes
    assert _one(spark, "la de", langid_guess(tokens("text"))) == "fr"
    assert _one(spark, "the x", langid_guess(tokens("text"), 0.5)) == "en"
    assert _one(spark, "the x y", langid_guess(tokens("text"), 0.5)) == "unknown"


def test_bpe_ish_tokens(spark):
    from distributed_mapreduce_spark.functions.text import bpe_ish_tokens

    got = _one(spark, "It's 42 spark-jobs!", bpe_ish_tokens("text"))
    assert got == ["it", "'s", " 42", " spark", "-", "jobs", "!"]
    assert _one(spark, "", bpe_ish_tokens("text")) == []


def test_ws_token_count(spark):
    from distributed_mapreduce_spark.functions.text import ws_token_count

    assert _one(spark, " a  bb\tccc \n d ", ws_token_count("text")) == 4
    assert _one(spark, "", ws_token_count("text")) == 0


def test_rolling_hash(spark):
    from distributed_mapreduce_spark.functions.text import RH_BASE, RH_MOD, rolling_hash

    # fold semantics: "ab" -> (0*131+97)*131+98
    assert _one(spark, "ab", rolling_hash("text")) == (97 * RH_BASE + 98) % RH_MOD
    # normalization folds into the hash: same as fingerprint()'s input
    assert _one(spark, " A  b ", rolling_hash("text")) == _one(
        spark, "a b", rolling_hash("text")
    )


def test_redact_pii_all_kinds_and_multiplicity(spark):
    from distributed_mapreduce_spark.functions.text import pii_counts, redact_pii

    txt = (
        "mail a.b+c@x.co and other@y.org, host 192.168.0.1 "
        "call 415-555-0142 or 212-555-9999."
    )
    df = spark.createDataFrame([(txt,)], "text string")
    row = df.select(redact_pii("text").alias("r"), *pii_counts("text")).collect()[0]
    assert row.r == (
        "mail <EMAIL> and <EMAIL>, host <IP> call <PHONE> or <PHONE>."
    )
    assert (row.n_emails, row.n_ipv4s, row.n_phones) == (2, 1, 2)


def test_pii_counts_nested_kinds_not_double_reported(spark):
    # an IP-shaped substring inside an email local part is consumed by
    # the email rule, so it must count as ONE email and ZERO IPs — the
    # counts sum to the placeholder tokens actually emitted (ADVICE
    # r13); a standalone IP alongside still counts
    from distributed_mapreduce_spark.functions.text import pii_counts, redact_pii

    # local part must give the nested IP a leading word boundary
    # ('x.' before '1') or the ipv4 rule never saw it even pre-fix
    txt = "ping x.1.2.3.4@y.co from 9.9.9.9"
    df = spark.createDataFrame([(txt,)], "text string")
    row = df.select(redact_pii("text").alias("r"), *pii_counts("text")).collect()[0]
    assert row.r == "ping <EMAIL> from <IP>"
    assert (row.n_emails, row.n_ipv4s, row.n_phones) == (1, 1, 0)


def test_redact_pii_boundaries_and_negatives(spark):
    from distributed_mapreduce_spark.functions.text import pii_counts, redact_pii

    cases = {
        # PII at string start and end (the \b-at-edge cases)
        "9.9.9.9": "<IP>",
        "a@b.co": "<EMAIL>",
        # version-like strings with an over-wide last octet must NOT
        # match the ipv4 rule (\b forbids a trailing word character)
        "ver 1.2.3.4000 ok": "ver 1.2.3.4000 ok",
        # digits glued to a phone shape are not a phone
        "id 1234-555-0142 x": "id 1234-555-0142 x",
        # clean text passes through untouched
        "no pii here": "no pii here",
    }
    df = spark.createDataFrame([(t,) for t in cases], "text string")
    got = {
        r.text: (r.r, r.n_emails + r.n_ipv4s + r.n_phones)
        for r in df.select(
            "text", redact_pii("text").alias("r"), *pii_counts("text")
        ).collect()
    }
    for src, want in cases.items():
        redacted, n = got[src]
        assert redacted == want, src
        assert (n > 0) == (want != src), src


def test_normalize_nfc_semantics(spark):
    from distributed_mapreduce_spark.functions.text import normalize_nfc

    cases = {
        # decomposed base+mark collapses to the precomposed codepoint
        "café": "café",
        # already-NFC text passes through untouched
        "café ö": "café ö",
        # plain ASCII is NFC-invariant
        "plain ascii": "plain ascii",
        # marks with no precomposed partner stay decomposed (o + ring)
        "o̊": "o̊",
        "": "",
    }
    df = spark.createDataFrame([(t,) for t in cases], "text string")
    got = {r.text: r.n for r in df.select("text", normalize_nfc("text").alias("n")).collect()}
    for src, want in cases.items():
        assert got[src] == want, repr(src)
    # idempotence: normalizing the normalized output changes nothing
    df2 = spark.createDataFrame([(v,) for v in cases.values()], "text string")
    got2 = {r.text: r.n for r in df2.select("text", normalize_nfc("text").alias("n")).collect()}
    assert all(got2[v] == v for v in cases.values())


def test_c4_line_rules(spark):
    """Each C4 rule (Raffel et al. 2020 §2.2) on its own line class:
    terminal punctuation, the ≥3-word floor, and the javascript drop —
    the per-line predicate behind text_q18."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.functions.text import c4_keep_lines

    cases = [
        ("This sentence ends properly.", True),
        ('He said "stop".', True),
        ("Does this survive too?", True),
        ("Trailing space after punct.  ", True),  # \s* after the mark
        ("HOME | PRODUCTS | ABOUT", False),  # no terminal punctuation
        ("Copyright 2024 Example Corp", False),  # no terminal punctuation
        ("Read more.", False),  # < 3 words
        ("OK.", False),  # < 3 words
        ("Please enable Javascript to continue.", False),  # javascript
        ("this needs JAVASCRIPT enabled.", False),  # case-insensitive
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "ln string")
    kept = df.select(
        "ln", F.size(c4_keep_lines(F.array("ln"))).alias("n")
    ).collect()
    got = {r.ln: r.n == 1 for r in kept}
    for ln, want in cases:
        assert got[ln] == want, ln


def test_paragraph_keep_first_semantics(spark):
    """CCNet paragraph dedup on a hand-built corpus: the corpus-wide
    first (doc_id, pos) occurrence survives, later copies vanish —
    including a repeat INSIDE the first document — reconstruction
    preserves order, and a document whose every paragraph is a
    duplicate reconstructs to no row (CCNet drops emptied docs)."""
    from distributed_mapreduce_spark.operators.dedup import paragraph_keep_first

    rows = [
        (1, ["shared header", "alpha body", "shared header"]),
        (2, ["shared header", "beta body"]),
        (3, ["shared header"]),  # all duplicates -> dropped
        (4, ["gamma body", "shared footer"]),
        (5, ["shared footer", "delta body"]),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, paras array<string>")
    got = {
        r.doc_id: r
        for r in paragraph_keep_first(df, sep="\n\n").collect()
    }
    assert set(got) == {1, 2, 4, 5}  # doc 3 emptied out
    assert got[1].clean_text == "shared header\n\nalpha body"  # pos-2 repeat gone
    assert (got[1].n_paras, got[1].n_kept) == (3, 2)
    assert got[2].clean_text == "beta body"
    assert got[4].clean_text == "gamma body\n\nshared footer"
    assert got[5].clean_text == "delta body"
    assert (got[5].n_paras, got[5].n_kept) == (2, 1)


def test_gopher_rules_each_threshold(spark):
    """Each Gopher A.1.1 rule falsified in isolation on a crafted page
    (every other rule passing), plus one page passing all rules — the
    per-rule matrix behind text_q19."""
    from distributed_mapreduce_spark.queries.textops import gopher_quality_frame

    # 60 alphabetic words incl. two stop words, no bullets/ellipses/symbols
    good = "the be " + " ".join(f"word{i}" for i in range(58)) + "."
    cases = [
        (1, good, 1),
        # < 50 words
        (2, "the be tiny page.", 0),
        # mean word length > 10 (every word 12 chars)
        (3, "the be " + " ".join("twelvecharsx" for _ in range(58)), 0),
        # symbol ratio > 0.1: 7 hashes over 60 words
        (4, good + " ## ## ###", 0),
        # ≥ 90 % bullet lines (9 of 10)
        (5, "\n".join(["• " + good] * 9 + [good]), 0),
        # ≥ 30 % ellipsis lines (1 of 3)
        (6, "\n".join([good, good, good + "…"]), 0),
        # < 80 % alphabetic words: 20 numeric words over 60 alpha
        (7, good + " " + " ".join("123" for _ in range(20)), 0),
        # only one stop word
        (8, "the " + " ".join(f"word{i}" for i in range(59)), 0),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p, _ in cases], "doc_id bigint, page string"
    )
    got = {r.doc_id: r for r in gopher_quality_frame(df).collect()}
    for i, _, want in cases:
        assert got[i].quality_ok == want, (i, got[i])
    # the ratio columns agree with the verdict math on the crafted rows
    assert got[4].symbol_ratio > 0.1 and got[6].ellipsis_frac >= 0.3
    assert got[7].alpha_frac < 0.8 and got[8].stop_hits == 1


def _c4_keep_py(line: str) -> bool:
    """Pure-Python C4 keep predicate — the reference the Spark HOF
    column is property-tested against."""
    import re

    return (
        re.search(r'[.!?"]\s*$', line) is not None
        and len(re.split(r"\s+", line.strip())) >= 3
        and "javascript" not in line.lower()
    )


_C4_LINE = st.builds(
    lambda ws, end: " ".join(ws) + end,
    st.lists(
        st.sampled_from(
            ["alpha", "beta", "Javascript", "the", "123", "#", "word…"]
        ),
        min_size=0,
        max_size=6,
    ),
    st.sampled_from([".", "!", "?", '"', "", "…", ".  ", " ", "..."]),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_C4_LINE, min_size=0, max_size=8))
def test_c4_keep_lines_matches_python_oracle(spark, lines):
    """Engine-vs-reference property parity for the C4 predicate: the
    Spark higher-order filter keeps exactly the lines the pure-Python
    rule implementation keeps, over generated lines mixing endings,
    word counts, case, and whitespace edges."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.functions.text import c4_keep_lines

    df = spark.createDataFrame([(lines,)], "lines array<string>")
    got = df.select(c4_keep_lines(F.col("lines")).alias("k")).collect()[0].k
    assert got == [ln for ln in lines if _c4_keep_py(ln)]


def _para_keep_first_py(docs: dict) -> dict:
    """Pure-Python CCNet keep-first fold in global (doc_id, pos)
    order — the reference paragraph_keep_first is tested against."""
    seen: set = set()
    out = {}
    for doc_id in sorted(docs):
        kept = [
            p for p in docs[doc_id] if p not in seen and not seen.add(p)
        ]
        if kept:
            out[doc_id] = ("\n\n".join(kept), len(docs[doc_id]), len(kept))
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.dictionaries(
        st.integers(0, 12),
        st.lists(st.sampled_from(["p0", "p1", "p2", "p3", "p4"]),
                 min_size=0, max_size=5),
        max_size=6,
    )
)
def test_paragraph_keep_first_matches_python_oracle(spark, docs):
    """Property parity for the paragraph dedup: over generated corpora
    with heavy cross- and within-doc duplication, the distributed
    agg+join fold equals the sequential keep-first-in-(doc_id, pos)
    fold — including emptied-doc drops."""
    from distributed_mapreduce_spark.operators.dedup import paragraph_keep_first

    df = spark.createDataFrame(
        list(docs.items()), "doc_id bigint, paras array<string>"
    )
    got = {
        r.doc_id: (r.clean_text, r.n_paras, r.n_kept)
        for r in paragraph_keep_first(df).collect()
    }
    assert got == _para_keep_first_py(docs)
