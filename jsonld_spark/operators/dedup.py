"""Deduplication operators: exact and near-duplicate.

Exact dedup is a hash-groupBy (map-side partial agg for free). MinHash
LSH: shingle → 64-bit hashes → k minima → band buckets → candidate
pairs by bucket join — only candidate pairs are verified, never the
full cross product, so the shuffle stays O(n·bands) at 100 TB.

The near-duplicate operators share two steps, each written once: the
block step ``_band_pairs`` (the (band, key) self-join over MinHash
band hashes, SimHash bit bands and — from ``similarity`` — embedding
LSH buckets) and the expand step ``_expand`` (key-level pairs → id
pairs through the membership table, plus the in-group pairs), which
``minhash_candidate_pairs`` and ``simhash_neardup_pairs`` both use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import reuse, spread_partitions


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One representative (min id) per distinct text hash + group size."""
    return (docs
            .groupBy(F.md5(F.col(text_col)).alias("text_hash"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_dupes")))


def h32(col, seed: int):
    """Cross-engine 32-bit string hash: int of the first 8 hex chars of
    md5(s || '#seed'). Reproducible in any SQL dialect
    (``('0x'||substr(md5(s||'#k'),1,8))::BIGINT`` in DuckDB), which is
    what makes the LSH queries oracle-checkable. For throughput-critical
    paths where no oracle is needed, pass ``hash_fn='xxhash64'`` — same
    topology, JVM-native hashing."""
    return (F.conv(F.substring(F.md5(F.concat(col, F.lit(f"#{seed}"))),
                               1, 8), 16, 10).cast("long"))


# affine rehash constants: h_k(x) = (A_k·x + B_k) mod P, P prime > 2^32.
# One string hash per shingle, k cheap integer rehashes — the standard
# minwise-family trick; 16× fewer md5 evaluations than hashing per seed.
MINHASH_P = 4294967311
_A = [2 * k + 1 for k in range(64)]          # odd, nonzero
_B = [(k * k + 7) for k in range(64)]


def _minhash_sig(text_col: str, shingle_len: int, num_hashes: int,
                 hash_fn: str, shingle: str = "char"):
    """Signature array of k min-hashes over shingles — one JVM-side
    ``aggregate`` pass. ``shingle="char"`` slides a character window
    (robust to tokenization noise); ``shingle="word"`` uses the same
    word n-grams as ``word_ngrams`` (incl. the short-doc whole-sequence
    fallback), making the signatures a scalable stand-in for n-gram
    Jaccard — same gram universe, corpus×corpus instead of
    broadcast-query-only. Each shingle is string-hashed once (md5-based
    h32 for SQL reproducibility, or xxhash64); the k running minima are
    updated with cheap affine integer rehashes of that base value, so
    the expensive string hash is evaluated exactly once per shingle no
    matter how the optimizer rewrites the projection."""
    if not 1 <= num_hashes <= len(_A):
        raise ValueError(
            f"num_hashes must be in [1, {len(_A)}] (the affine rehash "
            f"table size), got {num_hashes}")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(
            f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r} — "
            "a silently-defaulted typo would break the SQL-oracle "
            "reproducibility contract")
    t = F.col(text_col)
    if shingle == "word":
        shingles = word_ngrams(text_col, shingle_len)
    elif shingle == "char":
        n = F.length(t) - shingle_len + 1
        idx = F.sequence(F.lit(1), F.greatest(n, F.lit(1)))
        shingles = F.transform(idx, lambda i: t.substr(i, F.lit(shingle_len)))
    else:
        raise ValueError(f"shingle must be 'char' or 'word', got {shingle!r}")
    if hash_fn == "md5":
        base = F.transform(shingles, lambda s: h32(s, 0))
    else:
        base = F.transform(shingles, lambda s: F.xxhash64(s)
                           .bitwiseAND(F.lit((1 << 32) - 1).cast("long")))
    init = F.array(*[F.lit(MINHASH_P).cast("long")] * num_hashes)

    def step(acc, h):
        cands = F.array(*[(h * _A[k] + _B[k]) % F.lit(MINHASH_P)
                          for k in range(num_hashes)])
        return F.zip_with(acc, cands, lambda a, c: F.least(a, c))

    return F.aggregate(base, init, step)


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", shingle_len: int = 5,
                       num_hashes: int = 16,
                       hash_fn: str = "xxhash64",
                       shingle: str = "char") -> DataFrame:
    sig = _minhash_sig(text_col, shingle_len, num_hashes, hash_fn, shingle)
    return docs.select(id_col, sig.alias("sig"))


def band_signatures(sigs: DataFrame, num_hashes: int = 16, bands: int = 4,
                    hash_fn: str = "xxhash64",
                    id_col: str = "doc_id") -> DataFrame:
    """(id, sig) → (id, band, band_hash): one row per band, band_hash =
    hash of that band's signature slice. Equal (band, band_hash) ⇒
    LSH candidate. Shared by in-corpus and incremental dedup so both
    produce identical buckets for identical signatures."""
    if bands < 1 or num_hashes // max(bands, 1) < 1:
        raise ValueError(
            f"band_signatures needs at least one hash per band "
            f"(got {num_hashes} hashes, {bands} bands)")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(
            f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    rows_per_band = num_hashes // bands
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into "
            f"bands={bands}; remainder hashes would be silently unused")
    slices = [F.slice("sig", b * rows_per_band + 1, rows_per_band)
              for b in range(bands)]
    if hash_fn == "md5":
        band_hashes = [
            F.md5(F.concat_ws(",",
                              F.transform(s, lambda x: x.cast("string"))))
            for s in slices]
    else:
        band_hashes = [F.hash(s).cast("string") for s in slices]
    return sigs.select(
        id_col,
        F.posexplode(F.array(*band_hashes)).alias("band", "band_hash"))


def _band_pairs(banded: DataFrame, id_col: str, key: str, a: str, b: str,
                keep: Column | None = None) -> DataFrame:
    """The block step: rows (``id_col``, band, ``key``) that agree on
    (band, ``key``) in any band → the distinct candidate pairs (``a``,
    ``b``), ``a < b``. ``keep`` is a further pair predicate, applied
    before the dedup so the dedup exchange carries only kept pairs."""
    cond = F.col(a) < F.col(b)
    return (banded.select("band", key, F.col(id_col).alias(a))
            .join(banded.select("band", key, F.col(id_col).alias(b)),
                  ["band", key])
            .where(cond if keep is None else cond & keep)
            .select(a, b).dropDuplicates())


def _expand(key_pairs: DataFrame, member: DataFrame, id_col: str, key: str,
            ka: str, kb: str, **in_group: Column) -> DataFrame:
    """The expand step: key-level pairs (``ka``, ``kb``) → id pairs
    (id_a < id_b) through the membership table (``id_col``, ``key``),
    plus the pairs inside each key. Each ``in_group`` name is a further
    key-pair column: carried to the expanded pairs, set to its value on
    the in-group pairs.

    No final dropDuplicates (one full-output exchange+agg fewer): with
    unique ids every id has ONE key, so an id pair determines its key
    pair and the two parts are duplicate-free and disjoint. The
    `_ia != _ib` guard keeps a malformed table (one id under two keys)
    from emitting a self pair."""
    cross = (key_pairs
             .join(member.select(F.col(id_col).alias("_ia"),
                                 F.col(key).alias(ka)), ka)
             .join(member.select(F.col(id_col).alias("_ib"),
                                 F.col(key).alias(kb)), kb)
             .where(F.col("_ia") != F.col("_ib"))
             .select(F.least("_ia", "_ib").alias("id_a"),
                     F.greatest("_ia", "_ib").alias("id_b"), *in_group))
    within = (member.alias("ma").join(
                  member.alias("mb"),
                  [F.col(f"ma.{key}") == F.col(f"mb.{key}"),
                   F.col(f"ma.{id_col}") < F.col(f"mb.{id_col}")])
              .select(F.col(f"ma.{id_col}").alias("id_a"),
                      F.col(f"mb.{id_col}").alias("id_b"),
                      *[v.alias(n) for n, v in in_group.items()]))
    return cross.unionByName(within)


def minhash_candidate_pairs(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", shingle_len: int = 5,
                            num_hashes: int = 16, bands: int = 4,
                            hash_fn: str = "xxhash64",
                            shingle: str = "char") -> DataFrame:
    """LSH banding: equal band-hash ⇒ candidate pair (id_a < id_b).
    Shuffle is O(n·bands) bucket rows — never the cross product.

    The signature table is materialized (``reuse``) before banding:
    the boundary stops projection collapse from re-inlining the
    k·|shingles| hash expressions into the band hashes and again into
    both sides of the self-join — re-inlined they evaluate O(bands²)
    times per row inside the Generate node (measured 30× slower). The
    pairs come back lazy; a caller that reads them more than once
    materializes them itself."""
    sigs = reuse(minhash_signatures(docs, text_col, id_col, shingle_len,
                                    num_hashes, hash_fn, shingle))
    # COLLAPSE-FIRST (the simhash path's fix, ported): a corpus
    # where one boilerplate text occurs m times puts m identical
    # rows in every one of its band buckets, making the band
    # self-join emit O(bands·m²) rows before dedup — the measured
    # 47× blowup BENCH/SF1.md records for pre-fix simhash. Band
    # and join over DISTINCT signatures only (the signature ARRAY
    # itself is the group key — exact, no hash-collision risk),
    # then expand representative pairs back to id pairs through
    # the membership table. The OUTPUT is still quadratic in
    # duplicate-group size — that is the id-pair contract's
    # answer size — but the band join and its shuffle stay linear
    # in DISTINCT signatures.
    members = sigs.select(F.col(id_col), "sig")
    # materialize + spread: reps feeds BOTH the band join and the
    # membership join, and the groupBy output is AQE-coalesced to few
    # partitions while the band self-join below multiplies rows —
    # unspread, its enumeration would serialize onto those few cores
    # (spread_partitions' partition probe is free on the checkpoint)
    reps = spread_partitions(reuse(
        members.groupBy("sig").agg(F.min(id_col).alias(id_col))))
    banded = band_signatures(reps, num_hashes, bands, hash_fn, id_col)
    rep_pairs = _band_pairs(banded, id_col, "band_hash", "_ra", "_rb")
    mem = members.join(reps.select(F.col("sig"),
                                   F.col(id_col).alias("_rep")),
                       "sig").select(id_col, "_rep")
    return _expand(rep_pairs, mem, id_col, "_rep", "_ra", "_rb")


def minhash_pairs_incremental(new_docs: DataFrame, corpus_sigs: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", shingle_len: int = 5,
                              num_hashes: int = 16, bands: int = 4,
                              hash_fn: str = "xxhash64",
                              shingle: str = "char") -> DataFrame:
    """Near-dup candidates of a NEW batch against an EXISTING corpus —
    the "dedup tonight's crawl against the whole corpus" path.

    ``corpus_sigs``: (id, sig) — the landed signature table produced by
    ``minhash_signatures`` when the corpus was built (signatures are
    computed once per document EVER, not once per incoming batch; at
    100 TB recomputing corpus shingles per batch is the whole job).
    Returns (new_id, corpus_id) candidates: equal (band, band_hash) in
    any band, with signature params matching the corpus table's.

    Scale shape: both sides band to O(rows·bands) and meet in a plain
    equi-join — AQE broadcasts the (typically small) new batch side at
    runtime; never a cross product. Self-pairs (a re-crawled id already
    in the corpus) are dropped. Within-batch duplicates are
    ``minhash_candidate_pairs`` on the batch alone."""
    # materialized for the same projection-collapse boundary as in
    # minhash_candidate_pairs
    new_sigs = reuse(minhash_signatures(new_docs, text_col, id_col,
                                        shingle_len, num_hashes, hash_fn,
                                        shingle))
    n_b = band_signatures(new_sigs, num_hashes, bands, hash_fn, id_col) \
        .select(F.col(id_col).alias("new_id"), "band", "band_hash")
    c_b = band_signatures(corpus_sigs, num_hashes, bands, hash_fn, id_col) \
        .select(F.col(id_col).alias("corpus_id"), "band", "band_hash")
    return (c_b.join(n_b, ["band", "band_hash"])
            .where(F.col("new_id") != F.col("corpus_id"))
            .select("new_id", "corpus_id")
            .dropDuplicates())


def dedup_clusters(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", shingle_len: int = 5,
                   num_hashes: int = 16, bands: int = 4,
                   hash_fn: str = "xxhash64") -> DataFrame:
    """Full near-dup resolution: candidate pairs → connected components
    → one row per document with its cluster representative (the min id
    reachable through any chain of near-duplicates) and the cluster
    size. ``keep = (doc_id == rep)`` is the dedup policy downstream
    filters apply.

    Composes the banded-LSH candidate generator with the scale-adaptive
    connected components (driver union-find for small pair sets, the
    distributed min-label fixpoint above it), so transitive chains
    (A≈B≈C with A,C never colliding) land in ONE cluster — pairwise
    dedup alone would keep both A and C."""
    from .linking import label_clusters
    pairs = minhash_candidate_pairs(docs, text_col, id_col, shingle_len,
                                    num_hashes, bands, hash_fn)
    # pairs are provably duplicate-free (see minhash_candidate_pairs)
    return label_clusters(docs, pairs, id_col, assume_distinct=True)


def word_ngrams(text_col: str, n: int = 3):
    """Distinct word n-grams as an array column (space-joined). Documents
    with fewer than ``n`` tokens yield the whole token sequence as one
    gram — defined explicitly (and mirrored in the SQL oracle) because
    Spark's ``concat_ws`` silently drops the null tokens of a short doc
    while SQL ``||`` would propagate NULL."""
    toks = F.split(F.col(text_col), " ")
    m = F.size(toks) - n + 1
    idx = F.sequence(F.lit(1), F.greatest(m, F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + j) for j in range(n)]))
    return F.when(F.size(toks) >= n, F.array_distinct(grams)) \
            .otherwise(F.array(F.concat_ws(" ", toks)))


def ngram_jaccard_pairs(queries: DataFrame, corpus: DataFrame, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        ordered_pairs: bool = True) -> DataFrame:
    """Jaccard similarity over word n-gram sets between a (small,
    broadcast) query side and the corpus: |A∩B| / |A∪B|.
    Pure array built-ins — no Python, no shuffle on the corpus side.

    ``ordered_pairs=True`` (the default, for the common case where
    queries ARE a corpus subset sharing one id space) keeps only
    ``id_a < id_b``, the canonical half of a symmetric relation.
    **With DISJOINT id spaces this silently drops pairs whose query
    id is not less than the corpus id** (review finding) — pass
    ``ordered_pairs=False`` then, which keeps every cross pair and
    drops only the self pair ``id_a == id_b``."""
    q = queries.select(F.col(id_col).alias("id_a"),
                       word_ngrams(text_col, n).alias("g_a"))
    c = corpus.select(F.col(id_col).alias("id_b"),
                      word_ngrams(text_col, n).alias("g_b"))
    keep = (F.col("id_a") < F.col("id_b")) if ordered_pairs \
        else (F.col("id_a") != F.col("id_b"))
    j = c.crossJoin(F.broadcast(q)).where(keep)
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    return j.select("id_a", "id_b", (inter / union).alias("jaccard"))


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 5,
                  min_hits: int = 1, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at
    least ``min_hits`` distinct word ``n``-grams with ANY benchmark
    document — the standard pre-training hygiene step (a training doc
    that contains eval-set text inflates benchmark scores). Returns
    (doc_id, n_hit_grams) for flagged docs; the downstream policy is an
    anti-join on the ids.

    Scale shape: the benchmark side is SMALL by nature (eval sets are
    thousands of docs) — its distinct gram set is broadcast; the corpus
    explodes to grams once and semi-joins, then a per-doc count-distinct
    of matched grams. Never a doc×doc comparison."""
    bench_grams = (benchmark
                   .select(F.explode(word_ngrams(text_col, n))
                           .alias("gram"))
                   .distinct())
    corpus_grams = docs.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram"))
    hits = corpus_grams.join(F.broadcast(bench_grams), "gram")
    return (hits.groupBy(id_col)
            .agg(F.count_distinct("gram").cast("long")
                 .alias("n_hit_grams"))
            .where(F.col("n_hit_grams") >= min_hits))


def _bit_mask(i: int):
    """Single-bit mask as a signed-long literal; bit 63 is the sign bit,
    whose two's-complement value is negative (1<<63 overflows BIGINT).
    Raises beyond 63 — a long holds 64 bits, and silently folding
    higher positions onto the sign bit would collide vote masks."""
    if i > 63:
        raise ValueError(f"bit {i} does not fit a 64-bit simhash")
    return F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")


def _simhash_from_hashes(hashes, bits: int):
    """SimHash of a token-hash array in ONE aggregate pass: accumulate a
    ``bits``-long array of ±1 votes per element, then fold set bits into
    the hash. The naive per-bit formulation (one ``F.aggregate`` per
    bit) re-evaluates the token-hash ``transform`` subtree per bit —
    Catalyst does not CSE across aggregate lambda trees — a ``bits``×
    constant on the scan; this walks the array once."""
    masks = F.array(*[_bit_mask(i) for i in range(bits)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0,
                                    F.lit(1)).otherwise(F.lit(-1))))
    return F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m)
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, b: acc.bitwiseOR(b))


def simhash32(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash with the cross-engine md5 token hash: per-bit
    majority vote over whitespace tokens (oracle-checkable variant of
    ``simhash``)."""
    tokens = F.split(F.col(text_col), " ")
    hashes = F.transform(tokens, lambda tok: h32(tok, 0))
    return docs.select(id_col,
                       _simhash_from_hashes(hashes, 32).alias("simhash"))


def simhash_groups(sims: DataFrame, id_col: str = "doc_id",
                   sim_col: str = "simhash") -> DataFrame:
    """One row per DISTINCT simhash value: (simhash, rep = min id,
    group_n = member count). Groups ARE the Hamming-0 near-dup classes
    — exact replicas share a hash by construction — and collapsing to
    them BEFORE any pair generation is what keeps simhash near-dup
    linear in distinct hashes: a real crawl has million-copy
    boilerplate groups, and anything pair-shaped inside a group is
    O(g²)."""
    return (sims.groupBy(sim_col)
            .agg(F.min(id_col).alias("rep"),
                 F.count(F.lit(1)).cast("long").alias("group_n")))


def _check_simhash_bands(max_hamming: int, bits: int) -> int:
    bands = max_hamming + 1
    if bits % bands != 0:
        raise ValueError(
            f"bits={bits} must divide into {bands} bands "
            f"(max_hamming={max_hamming}); pad max_hamming or bits")
    return bands


def simhash_hash_pairs(hashes: DataFrame, max_hamming: int = 3,
                       bits: int = 32,
                       sim_col: str = "simhash") -> DataFrame:
    """EXACT Hamming-threshold pairs over DISTINCT simhash VALUES
    (hash_a < hash_b, 1 <= hamming <= max_hamming) — by bit-sampling,
    not a cross product. Split the ``bits``-bit hash into
    ``max_hamming + 1`` bands; by pigeonhole, any pair within the
    threshold agrees on at least one whole band, so a per-band
    equi-join generates a candidate superset and ``bit_count(a XOR b)``
    verifies exactly. Shuffle is O(distinct_hashes·(max_hamming+1))
    band rows; recall is 1.0 by construction (unlike probabilistic LSH
    banding).

    ``hashes`` must be distinct on ``sim_col`` (use ``simhash_groups``)
    — that precondition is the scale contract: banding the raw
    per-document table instead replicates every duplicate group into
    every band and the join output goes quadratic in group size."""
    bands = _check_simhash_bands(max_hamming, bits)
    width = bits // bands
    mask = (1 << width) - 1
    vals = [F.shiftright(F.col(sim_col), b * width)
            .bitwiseAND(F.lit(mask).cast("long")) for b in range(bands)]
    # spread the probe side: ``hashes`` typically arrives as an AQE-
    # coalesced (often single-partition) aggregate/checkpoint, and the
    # band join's output is O(Σ bucket²) rows — orders of magnitude
    # larger than its input — so an unspread probe side runs the whole
    # enumeration on ONE core (measured 13 s single-task at sf1 vs
    # ~1 s spread; guide §2.5 — skew lives in join OUTPUT, which AQE's
    # byte-based splitting never sees)
    banded = spread_partitions(hashes).select(
        sim_col, F.posexplode(F.array(*vals)).alias("band", "val"))
    # Hamming-verify BEFORE the pair dedup (hamming is a pure function
    # of the pair): the dedup exchange carries only true pairs
    hamming = F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b")))
    cand = _band_pairs(banded, sim_col, "val", "hash_a", "hash_b",
                       hamming <= max_hamming)
    return cand.select("hash_a", "hash_b",
                       hamming.cast("long").alias("hamming"))


def simhash_neardup_groups(sims: DataFrame, max_hamming: int = 3,
                           bits: int = 32, id_col: str = "doc_id",
                           sim_col: str = "simhash"
                           ) -> tuple[DataFrame, DataFrame]:
    """The 100 TB simhash near-dup contract: ``(groups, rep_pairs)``.

    * ``groups``: (simhash, rep, group_n) — the Hamming-0 equivalence
      classes; in-group pairs are implied (every member pair is
      Hamming 0) and never materialized.
    * ``rep_pairs``: (hash_a, hash_b, rep_a, rep_b, n_a, n_b, hamming)
      — one row per DISTINCT-hash pair within the threshold, carrying
      both groups' representatives and sizes. Cross-group id-level
      pairs are recoverable by joining membership on either hash, and
      downstream clustering needs only these rep-level edges plus the
      groups.

    Everything is linear in DISTINCT hashes (band join included) — the
    id-level pair expansion (``simhash_neardup_pairs``) is the only
    quadratic object, and it is opt-in output, not plan."""
    # groups is read by THREE branches (the band join and both
    # group-info joins)
    groups = reuse(simhash_groups(sims, id_col, sim_col))
    hp = simhash_hash_pairs(groups.select(sim_col), max_hamming, bits,
                            sim_col)
    ga = groups.select(F.col(sim_col).alias("hash_a"),
                       F.col("rep").alias("rep_a"),
                       F.col("group_n").alias("n_a"))
    gb = groups.select(F.col(sim_col).alias("hash_b"),
                       F.col("rep").alias("rep_b"),
                       F.col("group_n").alias("n_b"))
    rep_pairs = (hp.join(ga, "hash_a").join(gb, "hash_b")
                 .select("hash_a", "hash_b", "rep_a", "rep_b",
                         "n_a", "n_b", "hamming"))
    return groups, rep_pairs


def simhash_neardup_pairs(sims: DataFrame, max_hamming: int = 3,
                          bits: int = 32, id_col: str = "doc_id",
                          sim_col: str = "simhash") -> DataFrame:
    """ALL id-level pairs with ``hamming(a, b) <= max_hamming``
    (id_a < id_b) — the small-scale compatibility contract. The output
    SET is inherently quadratic in exact-duplicate group size (every
    in-group pair is a true Hamming-0 result), so at crawl scale use
    ``simhash_neardup_groups`` and keep pairs implicit.

    The PLAN is collapse-first even here: equal simhashes collapse to
    one row before the band join (``simhash_hash_pairs`` over distinct
    values), then the id-level output is reconstructed as
    (in-group expansion) ∪ (hash-pair membership expansion) — two
    straight equi-joins whose output is exactly the result set, with no
    per-band duplication of duplicate groups and no dropDuplicates over
    a group-size-squared candidate blowup (round-3 measured 47× wall at
    10× data from that; post-collapse the sf1 ratio is ~output-bound)."""
    # member feeds FIVE branches (distinct hashes, both sides of the
    # in-group join, both membership expansions)
    member = reuse(sims.select(id_col, sim_col))
    # the band join spreads this frame (the partition probe on a lazy
    # distinct would execute it once extra) and reads it on both join
    # sides
    hashes = reuse(member.select(sim_col).distinct())
    hp = simhash_hash_pairs(hashes, max_hamming, bits, sim_col)
    return _expand(hp, member, id_col, sim_col, "hash_a", "hash_b",
                   hamming=F.lit(0).cast("long"))


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-bit majority vote of
    token-hash bits, one aggregate pass over the token-hash array."""
    tokens = F.split(F.col(text_col), r"\s+")
    hashes = F.transform(tokens, lambda tok: F.xxhash64(tok))
    return docs.select(id_col,
                       _simhash_from_hashes(hashes, bits).alias("simhash"))


def span_dedup(docs: DataFrame, span_words: int = 10,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Span-level exact dedup (the C4 recipe at word-window grain): the
    corpus keeps exactly ONE occurrence of every ``span_words``-word
    non-overlapping window — the first in (id, position) order — later
    occurrences are dropped and each document's text is reassembled
    from its surviving spans. Returns one row per input document:
    (id, clean_text, n_spans, n_spans_kept).

    Plan shape for 100 TB: explode to (id, pos, span) rows; the
    first-occurrence winner per span is a groupBy(span) min over a
    (id, pos) struct — map-side partial min, so a boilerplate span
    repeated 10^6 times still combines locally and crosses the shuffle
    once per input partition, not once per occurrence. Survivors are an
    equi-join of the exploded rows against the winner table on the span
    key (1:1 per occurrence; a hot span is many-left × one-right, the
    shape AQE skew-split handles), then one groupBy(id) rebuilds the
    text with an in-group sort by position. Three key-hash shuffles
    total, no window over a skewed key, no driver state.
    """
    if span_words < 1:
        raise ValueError(f"span_words must be >= 1, got {span_words}")
    words = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(words) / F.lit(span_words)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - F.lit(1)),
        lambda i: F.array_join(
            F.slice(words, i * span_words + 1, span_words), " "))
    exploded = docs.select(
        F.col(id_col), F.posexplode(spans).alias("pos", "span"))
    winners = (exploded
               .groupBy("span")
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("pos").alias("p"))).alias("keep")))
    kept = (exploded.join(winners, "span")
            .where((F.col("keep.i") == F.col(id_col))
                   & (F.col("keep.p") == F.col("pos"))))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_spans_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct(F.col("pos"), F.col("span")))),
                            lambda s: s["span"]), " ").alias("clean_text")))
    # documents whose every span lost keep an empty clean_text row
    return (docs.select(F.col(id_col), n_spans.alias("n_spans"))
            .join(rebuilt, id_col, "left")
            .select(id_col, "n_spans",
                    F.coalesce("n_spans_kept", F.lit(0).cast("long"))
                    .alias("n_spans_kept"),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))
