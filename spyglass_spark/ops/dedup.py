"""Deduplication operators for large-scale corpus pipelines.

All of these are pure DataFrame plans (JVM/whole-stage-codegen expressions,
no Python UDFs) so Catalyst can push filters/prune columns and AQE can
handle skew at 100 TB scale:

  exact            — hash groupBy on sha256(text)           (1 shuffle)
  minhash LSH      — shingle → md5 minhash → band → bucket join
  n-gram Jaccard   — shingle self-join restricted to LSH-candidate space
  simhash          — 16-bit md5-based simhash + banded hamming pairs

Hash choice: md5/sha256 hex (identical builtins in Spark SQL and DuckDB)
so every operator has an exact cross-engine oracle.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, functions as F

_log = logging.getLogger(__name__)

TOKEN_SPLIT = "[^a-z0-9]+"


def _tokens(col: str):
    return F.filter(F.split(F.lower(F.col(col)), TOKEN_SPLIT), lambda t: t != "")


def _gram_explode(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) rows, duplicates INCLUDED — one tokenize + explode,
    no shuffle. Callers needing the distinct-shingle contract add
    .distinct(); duplicate-insensitive aggregations (min) skip it."""
    toks = _tokens(text_col)
    parts = [F.slice(toks, i + 1, F.size(toks) - F.lit(n - 1)) for i in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    return df.select(F.col(id_col).alias("id"), F.explode(grams).alias("shingle"))


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle)."""
    return _gram_explode(df, text_col, id_col, n).distinct()


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: groups of identical content. Returns
    (text_sha, n_dups, keeper) for groups with >1 member; keeper = min id."""
    return (df.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha"))
            .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper"))
            .filter(F.col("n_dups") > 1))


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_perms: int = 8, ngram: int = 3) -> DataFrame:
    """MinHash signature per doc: perm i = min(md5(i || ':' || shingle)).

    ONE narrow aggregation directly over the shingle explode
    (optimization r6): min() is duplicate-insensitive, so the
    distinct-shingle pre-shuffle the other shingle consumers rely on is
    provably redundant here — dropping it removes a full #shingle-rows
    exchange; the remaining exchange carries #docs partial-aggregated
    narrow rows. A big-but-unsplit input (one large parquet file = one
    scan task) is round-robin spread first so the tokenize+md5 work
    parallelizes; small inputs skip the extra exchange and at scale the
    scan already has ≥cores splits — metadata-only probe, no job."""
    sc = df.sparkSession.sparkContext
    try:
        files = df.inputFiles()
        total = sum(os.path.getsize(f[7:] if f.startswith("file://") else f)
                    for f in files)
        est_splits = max(len(files), total // (128 << 20))
        if total >= (8 << 20) and est_splits < sc.defaultParallelism:
            df = df.repartition(sc.defaultParallelism)
    except Exception as e:
        _log.warning("minhash input-size probe (minhash_signatures) "
                     "failed; the input is not respread: %s", e)
    sh = _gram_explode(df, text_col, id_col, ngram)
    aggs = [F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
            for i in range(num_perms)]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      num_perms: int = 8, bands: int = 2, ngram: int = 3) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the minhash signature.
    Band join key = md5(concat of the band's perm values) — the classic
    shingle→minhash→band→bucket-join pipeline. Returns (a, b) with a < b."""
    rows = num_perms // bands
    sig = minhash_signatures(df, text_col, id_col, num_perms, ngram)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{i}") for i in range(b * rows, (b + 1) * rows)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.md5(F.concat_ws("|", *cols)).alias("sig")))
    banded = sig.select("id", F.explode(F.array(*band_cols)).alias("bs")) \
                .select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    # materialize the banded signature table ONCE before the self-join:
    # without it Catalyst plans the left and right sides as two full
    # shingle→minhash→band pipelines (2× the tokenize/md5 work — the
    # dominant cost). The frame is #docs × bands narrow rows (the LSH
    # bucket table every practical pipeline persists); localCheckpoint,
    # not persist, so repeated invocations never serve a previous run's
    # bytes through the CacheManager.
    banded = banded.localCheckpoint()
    left = banded.alias("l")
    right = banded.alias("r")
    return (left.join(right, (F.col("l.band") == F.col("r.band")) &
                      (F.col("l.sig") == F.col("r.sig")) &
                      (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
            .distinct())


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        threshold: float = 0.5, ngram: int = 3) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold. Pair generation via
    shingle equi-join (only docs sharing ≥1 shingle are compared — at scale,
    run after minhash_lsh_pairs to bound the candidate space)."""
    sh = shingles(df, text_col, id_col, ngram)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (sh.alias("l").join(sh.alias("r"),
                                (F.col("l.shingle") == F.col("r.shingle")) &
                                (F.col("l.id") < F.col("r.id")))
             .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
             .agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_sh", "na"), "a")
            .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_sh", "nb"), "b")
            .withColumn("jacc", F.round(F.col("inter") /
                                        (F.col("na") + F.col("nb") - F.col("inter")), 4))
            .filter(F.col("jacc") >= threshold)
            .select("a", "b", "jacc"))


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """16-bit SimHash over distinct tokens: token hash = first 4 md5 hex
    chars as int; bit j of the fingerprint = majority of token-hash bit j.
    Pure JVM expressions (conv/shiftright/bitwise)."""
    toks = (df.select(F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("tok"))
            .distinct()
            .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long")))
    bit_sums = toks.groupBy("id").agg(
        *[F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{j}")
          for j in range(bits)])
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bit_sums.select("id", fp.alias("simhash"))


def simhash_bands(max_hamming: int, bits: int = 16) -> list[tuple[int, int]]:
    """Pigeonhole band layout: splitting ``bits`` into ``max_hamming + 1``
    contiguous bands guarantees any pair within hamming ≤ max_hamming
    agrees EXACTLY on at least one band (max_hamming bit errors cannot
    touch all max_hamming+1 bands). Returns [(shift, width), ...]."""
    nbands = min(max_hamming + 1, bits)
    base, extra = divmod(bits, nbands)
    out = []
    shift = 0
    for j in range(nbands):
        w = base + (1 if j < extra else 0)
        out.append((shift, w))
        shift += w
    return out


def simhash_pairs(df: DataFrame, text_col: str, id_col: str,
                  max_hamming: int = 3, bits: int = 16) -> DataFrame:
    """Near-dup pairs with simhash hamming distance ≤ max_hamming.
    Candidate generation blocks on ``max_hamming + 1`` pigeonhole bands
    (see simhash_bands — full recall for the requested radius by
    construction), then verifies exact hamming. Each band is an equi-join
    key, so the blocking shuffles on (band, key) — never all-pairs."""
    s = simhash(df, text_col, id_col, bits)
    band_cols = [
        F.struct(F.lit(j).alias("band"),
                 F.shiftright(F.col("simhash"), shift)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("key"))
        for j, (shift, width) in enumerate(simhash_bands(max_hamming, bits))]
    banded = (s.select("id", "simhash",
                       F.explode(F.array(*band_cols)).alias("bk"))
              .select("id", "simhash", F.col("bk.band").alias("band"),
                      F.col("bk.key").alias("key")))
    # one materialization of the banded fingerprint table feeds both join
    # sides (see minhash_lsh_pairs — same double-pipeline trap)
    banded = banded.localCheckpoint()
    l, r = banded.alias("l"), banded.alias("r")
    cand = (l.join(r, (F.col("l.band") == F.col("r.band")) &
                   (F.col("l.key") == F.col("r.key")) &
                   (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"),
                    F.col("l.simhash").alias("ha"), F.col("r.simhash").alias("hb"))
            .distinct())
    x = F.col("ha").bitwiseXOR(F.col("hb"))
    ham = F.lit(0)
    for j in range(bits):
        ham = ham + F.shiftright(x, j).bitwiseAND(F.lit(1))
    return (cand.withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


def near_duplicates(df: DataFrame, text_col: str, id_col: str,
                    threshold: float = 0.5, num_perms: int = 8,
                    bands: int = 2, ngram: int = 3) -> DataFrame:
    """The composed scale-safe near-dup pipeline: minhash-LSH candidate
    pairs → exact n-gram Jaccard verification computed ONLY over the
    candidate pairs. This enforces the contract ngram_jaccard_pairs alone
    can't (its shingle equi-join can blow up on a hot shingle); here the
    pair space is bounded by the LSH buckets and the shingle join is
    candidate-anchored. Returns (a, b, jacc) with jacc ≥ threshold."""
    cand = minhash_lsh_pairs(df, text_col, id_col, num_perms, bands, ngram)
    sh = shingles(df, text_col, id_col, ngram)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (cand
             .join(sh.alias("ls"), F.col("a") == F.col("ls.id"))
             .join(sh.alias("rs"), (F.col("b") == F.col("rs.id")) &
                   (F.col("ls.shingle") == F.col("rs.shingle")))
             .groupBy("a", "b").agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_sh", "na"), "a")
            .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_sh", "nb"), "b")
            .withColumn("jacc", F.round(F.col("inter") /
                                        (F.col("na") + F.col("nb") - F.col("inter")), 4))
            .filter(F.col("jacc") >= threshold)
            .select("a", "b", "jacc"))


def embedding_cosine_pairs(emb: "DataFrame", threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           bucket_col: str | None = None) -> "DataFrame":
    """Embedding-cosine near-dup pairs: (a, b, cos_sim) with cosine ≥
    threshold, a < b.

    With ``bucket_col`` the join is an EQUI-join on the bucket (the scale
    path: assign LSH buckets / IVF lists from ops.similarity first, then
    only same-bucket pairs are compared — candidate space bounded by the
    largest bucket, never all-pairs). Without it the join is an exact
    all-pairs cross product — correct, but a deliberate small-frame tool;
    at corpus scale ALWAYS pass a bucket column."""
    from .similarity import _dot, _norm

    va = F.transform(F.col("l.v"), lambda x: x.cast("double"))
    vb = F.transform(F.col("r.v"), lambda x: x.cast("double"))
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if bucket_col is not None:
        cols.append(F.col(bucket_col).alias("bk"))
    base = emb.select(*cols)
    cond = F.col("l.id") < F.col("r.id")
    if bucket_col is not None:
        cond = (F.col("l.bk") == F.col("r.bk")) & cond
    pairs = base.alias("l").join(base.alias("r"), cond)
    out = (pairs.select(F.col("l.id").alias("a"), F.col("r.id").alias("b"),
                        F.round(_dot(va, vb) / (_norm(va) * _norm(vb)), 4)
                        .alias("cos_sim"))
           .filter(F.col("cos_sim") >= threshold))
    # multi-probe bucketing can list a vector in several buckets → dedup;
    # the unbucketed path is already unique (a < b), no extra shuffle
    return out.distinct() if bucket_col is not None else out


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every neighbor v > u re-links to m = min(Γ⁺(u))."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m")))
    return (sym.join(mins, "u").where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient high→low, then every node in Γ⁺(u) except
    the minimum m links directly to m."""
    ori = (e.select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
           .where(F.col("u") != F.col("v")))
    mins = ori.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (ori.join(mins, "u").where(F.col("v") != F.col("m"))
           .select(F.col("v").alias("u"), F.col("m").alias("v")))
    self_e = (mins.select(F.col("u"), F.col("m").alias("v"))
              .where(F.col("u") != F.col("v")))
    return nbr.union(self_e).distinct()


def duplicate_clusters(pairs: DataFrame, a_col: str = "a", b_col: str = "b",
                       max_iter: int = 30) -> DataFrame:
    """Connected components over a duplicate-pair graph: groups the
    pairwise near-dup output (minhash_lsh_pairs / simhash_pairs /
    near_duplicates) into whole duplicate clusters, the step a real
    dedup pipeline needs before it can pick ONE keeper per group —
    pairwise keepers disagree when dups chain (a~b, b~c but never a~c).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each half-round is one
    groupBy + one equi-join on node id, converging in O(log² n) rounds to
    star graphs rooted at each component's minimum id. Returns
    (id, cluster) for every node of ``pairs``, cluster = min id of its
    component — deterministic, so exactly reproducible by a transitive-
    closure oracle.

    Scale shape: no all-pairs step and no driver state proportional to
    data — the driver holds only the convergence flag; each round's
    frames are the edge set itself (≤ |E| rows). ``localCheckpoint``
    truncates the lineage every round so the plan stays O(1) deep, and
    the exact set-equality convergence test (count + except) costs two
    small jobs on the already-checkpointed frames."""
    e = (pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
         .where(F.col("u") != F.col("v")).distinct()
         .localCheckpoint(eager=True))
    if not e.take(1):
        return e.select(F.col("u").alias("id"), F.col("v").alias("cluster"))
    for _ in range(max_iter):
        e_next = _small_star(_large_star(e)).localCheckpoint(eager=True)
        if (e_next.count() == e.count()
                and e_next.exceptAll(e).take(1) == []):
            e = e_next
            break
        e = e_next
    else:
        raise RuntimeError(f"duplicate_clusters: no convergence in "
                           f"{max_iter} rounds")
    roots = e.select(F.col("v").alias("id")).distinct() \
             .select("id", F.col("id").alias("cluster"))
    members = e.select(F.col("u").alias("id"), F.col("v").alias("cluster"))
    return members.union(roots)


def passage_duplicates(df: DataFrame, text_col: str, id_col: str,
                       window: int = 10) -> DataFrame:
    """Passage-level exact dedup (the paragraph-dedup step of C4-style
    pipelines, applied to token streams): the token stream is chunked
    into fixed ``window``-token passages, each hashed; passages appearing
    in more than one doc come back as (passage_hash, n_docs, keeper =
    min id). Catching cross-document boilerplate that document-level
    hashing misses.

    Scale shape: chunking is transform/sequence inside codegen (no
    shuffle); ONE groupBy on the passage hash — identical passages
    co-locate, everything else partial-aggregates map-side. At 100 TB
    this is the same single-shuffle profile as exact_duplicates, with
    #passages ≈ tokens/window rows entering the exchange."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                    lambda t: t != "")
    n_chunks = F.floor(F.size(toks) / window).cast("int")
    chunks = F.when(
        n_chunks > 0,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.md5(F.concat_ws(
                        " ", F.slice(toks, i * window + 1, window))))
    ).otherwise(F.array().cast("array<string>"))
    flat = df.select(F.col(id_col).alias("id"), F.explode(chunks).alias("passage_hash"))
    return (flat.groupBy("passage_hash")
            .agg(F.countDistinct("id").alias("n_docs"),
                 F.min("id").alias("keeper"))
            .filter(F.col("n_docs") > 1))
