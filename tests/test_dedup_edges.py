"""Edge-case parity for dedup operators: short documents must behave
identically in the Spark expressions and the DuckDB oracles (ADVICE:
concat_ws drops nulls, SQL || propagates them — behavior is now pinned:
docs with fewer than n tokens yield the whole token list as one gram)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from jsonld_spark.operators.dedup import ngram_jaccard_pairs, word_ngrams


def test_word_ngrams_short_docs(spark):
    rows = [(0, "one"), (1, "one two"), (2, "one two three"),
            (3, "one two three four")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.g for r in
           df.select("doc_id", word_ngrams("text", 3).alias("g")).collect()}
    assert out[0] == ["one"]
    assert out[1] == ["one two"]
    assert out[2] == ["one two three"]
    assert out[3] == ["one two three", "two three four"]


def test_ngram_jaccard_short_docs_match_oracle(spark):
    rows = [(0, "a b"), (1, "a b"), (2, "a b c d"), (3, "x"),
            (4, "a b c d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(df.where(F.col("doc_id") < 2), df,
                                     n=3).collect())
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    want = sorted(tuple(t) for t in con.execute("""
        WITH g AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(
                     range(1, greatest(len(toks)-2, 1)+1),
                     i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]))
                 ELSE [array_to_string(toks, ' ')] END AS grams
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs))
        SELECT q.doc_id, c.doc_id,
               round(len(list_intersect(q.grams, c.grams))
                 / len(list_distinct(list_concat(q.grams, c.grams))), 9)
        FROM g q JOIN g c ON q.doc_id < c.doc_id
        WHERE q.doc_id < 2
    """).fetchall())
    assert got == want
    # identical short docs are exact near-dups (jaccard 1.0)
    assert (0, 1, 1.0) in got


def test_minhash_incremental_consistent_with_full_run(spark):
    """Incremental (new batch vs landed corpus signatures) must produce
    exactly the cross-set subset of the full in-corpus run: signatures
    computed at corpus-build time and at batch time band identically."""
    from jsonld_spark.operators.dedup import (minhash_candidate_pairs,
                                              minhash_pairs_incremental,
                                              minhash_signatures)
    rows = [(i, "the quick brown fox jumps over the lazy dog %d" % (i % 3))
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.where(F.col("doc_id") < 20)
    new = docs.where(F.col("doc_id") >= 20)

    full = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
            for r in minhash_candidate_pairs(docs).collect()}
    cross_expected = {(a, b) for a, b in full
                      if (a < 20) != (b < 20)}

    corpus_sigs = minhash_signatures(corpus)
    got = {(min(r.corpus_id, r.new_id), max(r.corpus_id, r.new_id))
           for r in minhash_pairs_incremental(new, corpus_sigs).collect()}
    assert got == cross_expected
    assert len(got) > 0  # the %3 text groups guarantee cross-set dupes


def test_dedup_clusters_transitive_chains(spark):
    """A≈B and B≈C but A,C never colliding must still land in ONE
    cluster (the whole point of clustering over pairwise dedup)."""
    from jsonld_spark.operators.dedup import (dedup_clusters,
                                              minhash_candidate_pairs)
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    rows = [(0, base), (1, base + " x"), (2, base + " x y z w q"),
            (10, "completely different text about spark dataframes here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b)
             for r in minhash_candidate_pairs(docs).collect()}
    got = {(r.doc_id, r.rep, r.cluster_n)
           for r in dedup_clusters(docs).collect()}
    by_doc = {d: (rep, n) for d, rep, n in got}
    # all docs present exactly once; singleton is its own rep
    assert set(by_doc) == {0, 1, 2, 10}
    assert by_doc[10] == (10, 1)
    # whatever pairs LSH found, cluster = transitive closure of them
    if (0, 1) in pairs and (1, 2) in pairs:
        assert by_doc[0] == by_doc[1] == by_doc[2] == (0, 3)


def test_band_signatures_rejects_degenerate_params(spark):
    import pytest as _pytest

    from jsonld_spark.operators.dedup import (band_signatures,
                                              minhash_signatures)
    docs = spark.createDataFrame([(1, "hello world text")],
                                 "doc_id long, text string")
    sigs = minhash_signatures(docs, num_hashes=16)
    with _pytest.raises(ValueError, match="at least one hash per band"):
        band_signatures(sigs, num_hashes=3, bands=4)
    with _pytest.raises(ValueError, match="divide evenly"):
        band_signatures(sigs, num_hashes=10, bands=4)


def test_simhash_neardup_exact_vs_bruteforce(spark):
    """Bit-sampling pairs must EQUAL the brute-force Hamming join —
    recall 1.0 by pigeonhole, precision 1.0 by the verify filter."""
    import itertools
    import random

    from jsonld_spark.operators.dedup import simhash_neardup_pairs
    rng = random.Random(7)
    base = rng.getrandbits(32)
    vals = [base]
    for _ in range(40):  # cluster around base at varying distances
        v = base
        for bit in rng.sample(range(32), rng.randint(0, 6)):
            v ^= 1 << bit
        vals.append(v)
    sims = spark.createDataFrame(list(enumerate(vals)),
                                 "doc_id long, simhash long")
    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_neardup_pairs(sims, max_hamming=3).collect()}
    want = {(i, j, bin(a ^ b).count("1"))
            for (i, a), (j, b) in itertools.combinations(enumerate(vals), 2)
            if bin(a ^ b).count("1") <= 3}
    assert got == want and len(want) > 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="divide"):
        simhash_neardup_pairs(sims, max_hamming=4, bits=32)


def test_minhash_eager_and_lazy_cut_agree(spark):
    from jsonld_spark.operators.dedup import minhash_candidate_pairs
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog")
         for i in range(30)], "doc_id long, text string")
    eager = {(r.id_a, r.id_b) for r in
             minhash_candidate_pairs(docs, shingle_len=5, num_hashes=16,
                                     bands=4).collect()}
    lazy_df = minhash_candidate_pairs(docs, shingle_len=5, num_hashes=16,
                                      bands=4)
    lazy = {(r.id_a, r.id_b) for r in
            lazy_df.where(F.lit(True)).collect()}
    assert eager == lazy and len(eager) > 0


def test_simhash_neardup_collapses_giant_dup_groups(spark):
    """The 100 TB contract (VERDICT r3 #1): a giant exact-duplicate
    group must collapse to ONE representative row before the band join
    — the rep-level output is linear in distinct hashes, and the
    quadratic id-level pair set exists only as the opt-in compat
    expansion."""
    from jsonld_spark.operators.dedup import (simhash_neardup_groups,
                                              simhash_neardup_pairs)
    rows = ([(i, 0b1010) for i in range(50)]          # 50-copy group
            + [(100, 0b1011), (101, 0b1011)]          # hamming-1 group
            + [(200, (1 << 31) - 1)])                 # far away
    sims = spark.createDataFrame(rows, "doc_id long, simhash long")
    groups, rep_pairs = simhash_neardup_groups(sims, max_hamming=3,
                                               bits=32)
    g = {r.simhash: (r.rep, r.group_n) for r in groups.collect()}
    assert g[0b1010] == (0, 50) and g[0b1011] == (100, 2)
    assert g[(1 << 31) - 1] == (200, 1)
    rp = [(r.hash_a, r.hash_b, r.rep_a, r.rep_b, r.n_a, r.n_b, r.hamming)
          for r in rep_pairs.collect()]
    # ONE row covers the entire 50×2 cross-group relationship
    assert rp == [(0b1010, 0b1011, 0, 100, 50, 2, 1)]
    # compat expansion reproduces the full id-level pair set exactly
    pairs = simhash_neardup_pairs(sims, max_hamming=3, bits=32).collect()
    in_group = 50 * 49 // 2 + 1
    cross = 50 * 2
    assert len(pairs) == in_group + cross
    assert all(p.id_a < p.id_b for p in pairs)
    assert sum(1 for p in pairs if p.hamming == 0) == in_group
    assert sum(1 for p in pairs if p.hamming == 1) == cross


def test_simhash_neardup_pairs_no_self_pair(spark):
    """A malformed table that lists one id under two hashes within the
    Hamming threshold must not emit that id paired with itself — the
    same guard the MinHash expansion has."""
    from jsonld_spark.operators.dedup import simhash_neardup_pairs
    sims = spark.createDataFrame([(1, 0b1010), (1, 0b1011), (2, 0b1010)],
                                 "doc_id long, simhash long")
    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_neardup_pairs(sims, max_hamming=3).collect()}
    assert all(a != b for a, b, _ in got), got
    assert (1, 2, 0) in got


def test_simhash_hash_pairs_requires_band_divisibility(spark):
    import pytest as _pytest

    from jsonld_spark.operators.dedup import simhash_hash_pairs
    hashes = spark.createDataFrame([(1,)], "simhash long")
    with _pytest.raises(ValueError, match="divide"):
        simhash_hash_pairs(hashes, max_hamming=4, bits=32)


def test_simhash_rejects_oversized_bits(spark):
    import pytest as _pytest

    from jsonld_spark.operators.dedup import simhash
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="64-bit"):
        simhash(docs, bits=70).collect()


def test_decontaminate_flags_shared_ngrams(spark):
    from jsonld_spark.operators.dedup import decontaminate
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "prefix text the quick brown fox jumps over something"),
         (2, "completely unrelated words with no overlap at all"),
         (3, "quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string")
    got = {r.doc_id: r.n_hit_grams
           for r in decontaminate(corpus, bench, n=5).collect()}
    assert 1 in got and 3 in got and 2 not in got
    # min_hits raises the bar
    strict = {r.doc_id for r in
              decontaminate(corpus, bench, n=5, min_hits=3).collect()}
    assert strict <= {1, 3}


def test_span_dedup_first_occurrence_and_reassembly(spark):
    from jsonld_spark.operators.dedup import span_dedup
    docs = spark.createDataFrame(
        [(1, "a b c d"),       # spans: "a b", "c d"
         (2, "c d a b"),       # both spans already seen -> empty
         (3, "a b x y")],      # "a b" seen, keeps "x y"
        "doc_id long, text string")
    got = {r.doc_id: r for r in span_dedup(docs, span_words=2).collect()}
    assert (got[1].clean_text, got[1].n_spans, got[1].n_spans_kept) \
        == ("a b c d", 2, 2)
    assert (got[2].clean_text, got[2].n_spans_kept) == ("", 0)
    assert (got[3].clean_text, got[3].n_spans_kept) == ("x y", 1)


def test_span_dedup_giant_dup_group_and_partial_tail(spark):
    from jsonld_spark.operators.dedup import span_dedup
    # 500 replicas of one span + a doc with a partial trailing span
    docs = spark.createDataFrame(
        [(i, "same old boilerplate") for i in range(500)]
        + [(1000, "same old boilerplate plus tail")],
        "doc_id long, text string")
    out = span_dedup(docs, span_words=3)
    got = {r.doc_id: r for r in out.collect()}
    assert got[0].clean_text == "same old boilerplate"
    assert all(got[i].n_spans_kept == 0 for i in range(1, 500))
    # doc 1000: first span is the dup, tail span "plus tail" survives
    assert got[1000].n_spans == 2 and got[1000].clean_text == "plus tail"
    assert out.count() == 501


def test_minhash_validation_errors(spark):
    """Review regressions: num_hashes beyond the rehash table, a
    hash_fn typo, and bands=0 all refuse typed instead of IndexError /
    silent xxhash64 fallback / ZeroDivisionError."""
    from jsonld_spark.operators.dedup import (band_signatures,
                                              minhash_signatures)
    docs = spark.createDataFrame([("d1", "hello world")],
                                 "doc_id string, text string")
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_signatures(docs, num_hashes=128)
    with pytest.raises(ValueError, match="hash_fn"):
        minhash_signatures(docs, hash_fn="md-5")
    sigs = minhash_signatures(docs)
    with pytest.raises(ValueError, match="at least one hash per band"):
        band_signatures(sigs, num_hashes=16, bands=0)


def test_ngram_jaccard_disjoint_id_spaces(spark):
    """Review regression: with ordered_pairs=False disjoint-id-space
    query/corpus comparisons keep every cross pair (the default
    id_a < id_b canonical half silently drops them)."""
    from jsonld_spark.operators.dedup import ngram_jaccard_pairs
    q = spark.createDataFrame([("q1", "the quick brown fox jumps")],
                              "doc_id string, text string")
    c = spark.createDataFrame([("doc1", "the quick brown fox jumps")],
                              "doc_id string, text string")
    assert ngram_jaccard_pairs(q, c).count() == 0  # documented trap
    got = ngram_jaccard_pairs(q, c, ordered_pairs=False).collect()
    assert len(got) == 1 and got[0]["jaccard"] == 1.0


def test_minhash_pairs_collapse_first_giant_dup_group(spark):
    """Adversarial: 60 copies of one text + 2 distinct docs. The
    band join runs over DISTINCT signatures (3 rows), and the output
    is exactly the within-group pairs plus cross-group collisions —
    identical to the naive per-id banding."""
    from jsonld_spark.operators.dedup import minhash_candidate_pairs
    rows = [(f"c{i:02d}", "same text repeated many times here")
            for i in range(60)]
    rows += [("x1", "a completely different document body"),
             ("x2", "same text repeated many times here!")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_candidate_pairs(docs).collect()}
    # all 60*59/2 within-group pairs present
    within = {(f"c{i:02d}", f"c{j:02d}")
              for i in range(60) for j in range(i + 1, 60)}
    assert within <= pairs
    # canonical ordering holds for every pair
    assert all(a < b for a, b in pairs)


def test_minhash_pairs_unique_without_final_dedup(spark):
    """The collapse-first pair generator emits each unordered id pair
    exactly ONCE without a final dropDuplicates (cross/within are
    disjoint and internally unique), and a duplicate doc_id with two
    different texts never produces a self pair (advice finding)."""
    from pyspark.sql import functions as F

    from jsonld_spark.operators.dedup import minhash_candidate_pairs
    rows = ([(i, "the quick brown fox jumps over the lazy dog %d" % (i % 3))
             for i in range(30)]
            + [(99, "completely different text one"),
               (99, "another unrelated corpus text")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_candidate_pairs(docs, shingle_len=5, num_hashes=16,
                                    bands=4, hash_fn="md5")
    rows = pairs.collect()
    assert all(r["id_a"] != r["id_b"] for r in rows)
    as_set = {(r["id_a"], r["id_b"]) for r in rows}
    assert len(as_set) == len(rows)  # no duplicate pair rows
