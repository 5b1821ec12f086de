"""Round-17 optimization equivalence pins.

Every optimization this round restructures HOW an entry computes, never
WHAT it computes — these tests pin that claim per-value:

- the shared duplicated-span island build (coverage + removal) against
  the oracle and against a first-principles Python re-derivation of the
  per-position cut semantics (incl. island-merge edge cases the
  complement-slice rewrite must reproduce exactly);
- coverage/removal reconciliation (removed_tokens == dup_tokens).
"""

from __future__ import annotations

from tests.conftest import SF_SMALL, assert_matches_oracle, duck_for


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_dup_span_coverage_shared_matches_oracle(spark, duck):
    from dblab_ece_trino_spark.operators.registry import (
        oracle_queries,
        spark_queries,
    )

    cur = duck_for(duck, SF_SMALL)
    assert_matches_oracle(
        spark_queries()["llm_dup_span_coverage"](spark, SF_SMALL),
        cur,
        oracle_queries()["llm_dup_span_coverage"],
    )


def test_dup_span_removal_shared_matches_oracle(spark, duck):
    from dblab_ece_trino_spark.operators.registry import (
        oracle_queries,
        spark_queries,
    )

    cur = duck_for(duck, SF_SMALL)
    assert_matches_oracle(
        spark_queries()["llm_dup_span_removal"](spark, SF_SMALL),
        cur,
        oracle_queries()["llm_dup_span_removal"],
    )


def test_dup_span_shared_islands_equal_direct(spark):
    """The cached shared island frame must produce the identical output
    as the per-entry direct build (same helper, but the cache path must
    not skew grain or columns)."""
    from dblab_ece_trino_spark.operators.llmprep import (
        _docs,
        dup_span_coverage,
        dup_span_removal,
        shared_dupspan_islands,
    )

    docs = _docs(spark, SF_SMALL)
    isl = shared_dupspan_islands(spark, SF_SMALL)
    for fn in (dup_span_coverage, dup_span_removal):
        got = _collect_sorted(fn(docs, islands=isl))
        want = _collect_sorted(fn(docs))
        assert got == want
        assert got, "empty result"


def _ref_dupspan(texts: list[str], n: int = 8):
    """First-principles reference for the dup-span pair: union of
    per-anchor intervals [p, p+n) — provably equal to the union of the
    merged gaps-and-islands intervals, and to the OLD per-position
    ``filter(sequence, exists(ivs))`` semantics."""
    toks = {i: t.split() for i, t in enumerate(texts)}
    gram_docs: dict[tuple, set] = {}
    for d, tk in toks.items():
        for p in range(len(tk) - n + 1):
            gram_docs.setdefault(tuple(tk[p : p + n]), set()).add(d)
    out = {}
    for d, tk in toks.items():
        anchors = [
            p
            for p in range(len(tk) - n + 1)
            if len(gram_docs[tuple(tk[p : p + n])]) >= 2
        ]
        covered: set = set()
        for p in anchors:
            covered.update(range(p, p + n))
        kept = [tk[i] for i in range(len(tk)) if i not in covered]
        out[d] = {
            "n_tokens": len(tk),
            "n_dup_grams": len(anchors),
            "dup_tokens": len(covered),
            "kept_tokens": len(tk) - len(covered),
            "removed_tokens": len(covered),
            "dedup_text": " ".join(kept),
        }
    return out


def test_dup_span_cut_edge_cases(spark):
    """Planted-span fixture exercising every island shape the
    complement-slice cut (r17) must reproduce: span at position 0, span
    at the very end, two anchors at gap == n (merge into one island),
    gap == n+1 (two islands, 1 kept token between), fully-covered doc,
    sub-n doc, no-duplicate doc."""
    from dblab_ece_trino_spark.operators.llmprep import (
        dup_span_coverage,
        dup_span_removal,
    )

    S = [f"s{i}" for i in range(8)]  # shared 8-token span
    T = [f"t{i}" for i in range(8)]  # second shared span
    W = [f"w{i}" for i in range(9)]  # shared 9-token span (2 anchors)
    texts = [
        # doc 0: S at pos 0 (island at start), unique tail
        " ".join(S + ["a0", "a1", "a2"]),
        # doc 1: S at the very end (island ends at n_tokens)
        " ".join(["b0", "b1", "b2", "b3"] + S),
        # doc 2: S then T adjacent -> anchors at 5 and 13, gap == 8 == n
        #        -> ONE island covering [5, 21)
        " ".join(["c0", "c1", "c2", "c3", "c4"] + S + T + ["c5"]),
        # doc 3: S, one unique token, T -> anchors at 0 and 9, gap 9 > n
        #        -> two islands, token 8 kept between them
        " ".join(S + ["d0"] + T),
        # doc 4: exactly S -> fully covered, dedup_text == ''
        " ".join(S),
        # doc 5: W (9 tokens shared) -> anchors 0 and 1, one island
        " ".join(W + ["e0"]),
        # doc 6: W again (the other side of the W pair)
        " ".join(["f0"] + W),
        # doc 7: shorter than n -> no grams
        "g0 g1 g2",
        # doc 8: >= n tokens but no duplicated gram
        " ".join(f"h{i}" for i in range(12)),
        # doc 9: single token
        "i0",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ref = _ref_dupspan(texts)

    cov = {r["doc_id"]: r.asDict() for r in dup_span_coverage(docs).collect()}
    rem = {r["doc_id"]: r.asDict() for r in dup_span_removal(docs).collect()}
    assert set(cov) == set(ref) and set(rem) == set(ref)
    for d, want in ref.items():
        for k in ("n_tokens", "n_dup_grams", "dup_tokens"):
            assert cov[d][k] == want[k], (d, k, cov[d], want)
        for k in ("n_tokens", "kept_tokens", "removed_tokens", "dedup_text"):
            assert rem[d][k] == want[k], (d, k, rem[d], want)
        # reconciliation: the removal must cut exactly what coverage
        # measured
        assert rem[d]["removed_tokens"] == cov[d]["dup_tokens"]
    # sanity on the fixture itself: the merge case really merged
    assert ref[2]["dup_tokens"] == 16 and ref[3]["dup_tokens"] == 16
    assert ref[4]["dedup_text"] == ""


def test_minhash_kernel_sigs_equal_jvm(spark):
    """The Arrow minhash fold kernel must reproduce the JVM
    aggregate/zip_with fold BIT-FOR-BIT — signed minima of the salted
    xxhash64 family — at doc grain (word mode, long shingle arrays)
    and at chunk grain (the shipped consumer).  Small int-id and
    string-id frames pin the output schema (sid keeps the id type) and
    null text: the shingle expressions give a null text a one-element
    array, so both paths return the same non-null signature for it."""
    from dblab_ece_trino_spark.operators.dedup import (
        _docs,
        chunk_units,
        minhash_signatures,
    )

    docs = _docs(spark, SF_SMALL)
    for frame, idc, txt in (
        (docs, "doc_id", "text"),
        (chunk_units(docs), "ckey", "chunk_text"),
    ):
        jvm = {
            r["sid"]: list(r["sig"])
            for r in minhash_signatures(frame, idc, txt).collect()
        }
        ker = {
            r["sid"]: list(r["sig"])
            for r in minhash_signatures(
                frame, idc, txt, kernel=True
            ).collect()
        }
        assert jvm == ker
        assert jvm, "empty signature frame"

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a lazy cat"),
        (3, None),
    ]
    for schema, ids in (("doc_id int, text string", int),
                        ("doc_id string, text string", str)):
        small = spark.createDataFrame(
            [(ids(i), t) for i, t in rows], schema
        )
        for mode in ("word", "char"):
            jvm_df = minhash_signatures(small, mode=mode)
            ker_df = minhash_signatures(small, mode=mode, kernel=True)
            assert ker_df.schema == jvm_df.schema, (schema, mode)
            jvm_rows = sorted(jvm_df.collect())
            assert sorted(ker_df.collect()) == jvm_rows, (schema, mode)
            null_sig = [r["sig"] for r in jvm_rows if r["sid"] == ids(3)]
            assert null_sig and null_sig[0] is not None, (schema, mode)


def test_chunk_neardup_kernel_matches_oracle(spark, duck):
    from dblab_ece_trino_spark.operators.registry import (
        oracle_queries,
        spark_queries,
    )

    cur = duck_for(duck, SF_SMALL)
    assert_matches_oracle(
        spark_queries()["dedup_chunk_neardup"](spark, SF_SMALL),
        cur,
        oracle_queries()["dedup_chunk_neardup"],
    )


def test_containment_boundary_pairs(spark):
    """No-false-negative pin for the containment candidate generation
    (the asymmetric prefix filter; the r17 postings-side partial index
    was built against this test and then rejected on measurement): a
    planted pair at the EXACT containment boundary
    (10 * inter == 9 * sz_a) must be emitted, and the full output must
    equal a brute-force all-pairs reference on the same fixture."""
    from dblab_ece_trino_spark.operators.dedup import containment_pairs

    texts = [
        # doc 0: 18 distinct chars -> 10 distinct 9-shingles w1..w10
        "abcdefghijklmnopqr",
        # doc 1: first 17 chars of doc 0 -> shingles w1..w9 only;
        # (0 -> 1): inter 9, sz_a 10: 10*9 >= 9*10 holds with EQUALITY
        # (1 -> 0): inter 9, sz_a 9: full containment
        "abcdefghijklmnopq",
        # doc 2: disjoint shingle set, same length as doc 0
        "stuvwxyz0123456789",
        # doc 3: a longer doc embedding doc 2 verbatim (superset pair)
        "stuvwxyz0123456789ABCDEF",
        # doc 4: unrelated filler so prefixes/df are non-degenerate
        "GHIJKLMNOPQRSTUVWXYZghij",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def sh(t):
        return {t[i : i + 9] for i in range(max(len(t) - 8, 1))}

    want = []
    for a, ta in enumerate(texts):
        for b, tb in enumerate(texts):
            if a == b:
                continue
            inter = len(sh(ta) & sh(tb))
            if 10 * inter >= 9 * len(sh(ta)):
                want.append((a, b, inter, len(sh(ta))))
    got = sorted(
        tuple(r) for r in containment_pairs(docs).collect()
    )
    assert got == sorted(want)
    assert (0, 1, 9, 10) in want, "fixture lost its boundary pair"
