"""Deterministic corpus sampling and end-to-end curation.

Training-data pipelines need samples that are reproducible across
reruns, partitionings, and engines — ``df.sample`` (task-seeded RNG)
is none of those. These operators decide membership by CONTENT hash:
keep a row iff ``h(key, salt) mod M < fraction·M``. Same input ⇒ same
sample anywhere; changing ``salt`` draws an independent sample;
downsampling to a smaller fraction with the same salt yields a strict
subset (nested samples — the property A/B data ablations rely on).

``hash_fn="md5"`` uses the cross-engine h32 hash (exact DuckDB oracle
parity, like the minhash family); ``"xxhash64"`` is the JVM-native
throughput path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import h32

SAMPLE_M = 1_000_000  # hash buckets: fraction resolution of 1e-6


def _bucket(key_cols: list[str], salt: str, hash_fn: str) -> Column:
    if hash_fn == "md5":
        key = F.concat_ws("\x1f", *key_cols)
        h = h32(F.concat(key, F.lit(f"|{salt}")), 0)
    else:
        h = F.xxhash64(*key_cols, F.lit(salt))
    return F.pmod(h, F.lit(SAMPLE_M))


def hash_sample(df: DataFrame, fraction: float,
                key_cols: list[str] | None = None, salt: str = "s0",
                hash_fn: str = "xxhash64") -> DataFrame:
    """Content-deterministic Bernoulli sample: keep iff
    ``hash(key, salt) mod M < fraction·M``. One scan, no shuffle, the
    filter pushes into the plan like any other predicate."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    keys = key_cols or ["doc_id"]
    return df.where(_bucket(keys, salt, hash_fn)
                    < int(fraction * SAMPLE_M))


def stratified_hash_sample(df: DataFrame, fractions: dict[str, float],
                           strata_col: str,
                           key_cols: list[str] | None = None,
                           salt: str = "s0", default_fraction: float = 0.0,
                           hash_fn: str = "xxhash64") -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing knob
    ("keep 100% of en, 30% of de, drop the rest"). ``fractions`` maps
    stratum value → keep fraction; unlisted strata get
    ``default_fraction``. Pure column expressions: the per-row
    threshold is a literal map lookup, no join, no shuffle."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0,1], got {v}")
    keys = key_cols or ["doc_id"]
    thresh_map = F.create_map(*[
        F.lit(x) for kv in fractions.items()
        for x in (kv[0], int(kv[1] * SAMPLE_M))])
    thresh = F.coalesce(thresh_map[F.col(strata_col)],
                        F.lit(int(default_fraction * SAMPLE_M)))
    return df.where(_bucket(keys, salt, hash_fn) < thresh)


def mixture_weights(docs: DataFrame, group_col: str = "lang",
                    text_col: str = "text",
                    alpha: float = 0.7) -> DataFrame:
    """Temperature-scaled domain/language mixture weights — the
    multilingual-corpus balancing rule (weight ∝ tokens^alpha,
    normalized; alpha<1 upsamples low-resource groups, alpha=1 is
    proportional). Returns one row per group:
    (group, n_docs, n_tokens, raw_share, weight, upsample) where
    ``upsample`` = weight/raw_share is the per-group replication
    factor a sampler feeds into ``stratified_hash_sample``.

    One groupBy over the corpus (partial-agg token sums), then the
    normalization joins against a single-row global aggregate —
    broadcast by construction. Output is group-cardinality rows, tiny
    at any corpus size."""
    toks = F.size(F.split(F.col(text_col), " ")).cast("long")
    per = (docs.groupBy(F.col(group_col).alias("grp"))
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(toks).alias("n_tokens")))
    per = per.withColumn("w_raw", F.pow(F.col("n_tokens").cast("double"),
                                        F.lit(float(alpha))))
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"),
                  F.sum("w_raw").alias("tot_w"))
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col("grp"), "n_docs", "n_tokens",
                    (F.col("n_tokens") / F.col("tot_tokens"))
                    .alias("raw_share"),
                    (F.col("w_raw") / F.col("tot_w")).alias("weight"),
                    ((F.col("w_raw") / F.col("tot_w"))
                     / (F.col("n_tokens") / F.col("tot_tokens")))
                    .alias("upsample")))


def curate_corpus(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", min_quality: float = 0.5,
                  lang_fractions: dict[str, float] | None = None,
                  salt: str = "s0", hash_fn: str = "xxhash64",
                  shingle_len: int = 5, num_hashes: int = 16,
                  bands: int = 4) -> DataFrame:
    """The full curation funnel as ONE composed DataFrame plan:

    1. quality gate (``textstats.quality_score`` ≥ ``min_quality``);
    2. exact dedup — keep the min-id representative per normalized
       fingerprint (``textstats.fingerprint``);
    3. transitive near-dup dedup — keep cluster representatives from
       ``dedup.dedup_clusters`` (minhash LSH + connected components);
    4. per-language deterministic downsampling
       (``stratified_hash_sample`` over ``textstats.lang_id``).

    Returns (doc_id, lang_pred, quality) for the kept documents. Every
    stage is an existing oracle-checked operator, so the whole funnel
    is SQL-reproducible end to end.

    LANGUAGE BIAS WARNING: the default quality gate is ENGLISH-TUNED —
    ``quality_score``'s cleanliness term counts every non-[a-z0-9 ]
    character (so every Cyrillic/CJK/Arabic char scores as "dirty")
    and its stopword term probes English function words. At the
    default ``min_quality=0.5`` a non-Latin-script document can
    rarely pass, so a multilingual corpus curated with defaults keeps
    essentially no ru/zh/ja/ar/... docs regardless of
    ``lang_fractions``. For multilingual curation lower
    ``min_quality`` to ~0.25 (the length term alone can clear it) or
    gate on a language-aware score upstream and skip the built-in
    gate with ``min_quality=0.0``."""
    from .dedup import dedup_clusters
    from .textstats import fingerprint, lang_id, quality_score

    from ..session import reuse

    q = quality_score(docs, text_col, id_col) \
        .where(F.col("quality") >= min_quality)
    passed = docs.join(q, id_col)

    fp = fingerprint(passed, text_col, id_col)
    exact_keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    # the surviving-docs funnel feeds the near-dup signature build, the
    # cluster-id universe, the language pass and the final joins
    passed = reuse(passed.join(exact_keep.select(id_col), id_col))

    clusters = dedup_clusters(passed, text_col, id_col, shingle_len,
                              num_hashes, bands, hash_fn)
    near_keep = clusters.where(F.col("rep") == F.col(id_col)) \
                        .select(id_col)
    passed = passed.join(near_keep, id_col)

    langs = lang_id(passed, text_col, id_col).select(id_col, "lang_pred")
    out = passed.join(langs, id_col)
    if lang_fractions is not None:
        out = stratified_hash_sample(out, lang_fractions, "lang_pred",
                                     [id_col], salt, 0.0, hash_fn)
    return out.select(id_col, "lang_pred", "quality")
