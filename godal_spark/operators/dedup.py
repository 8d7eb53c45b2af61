"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (godal has no text surface) — these are the
training-pipeline extensions the engine carries as first-class operators
over the `documents` table:

  * exact_dedup        — md5 hash groupBy (one shuffle on the hash)
  * minhash_lsh_dedup  — shingle → minhash → band-bucket join; candidate
    pairs verified by true Jaccard. Only bucket-collision pairs are ever
    joined: no O(n²) pair enumeration.
  * simhash_dedup      — 64-bit simhash; Hamming-band (4x16-bit chunks)
    bucket join finds pairs within distance ≤ 3 (pigeonhole over chunks
    guarantees recall for d ≤ 3 with 4 chunks).
  * ngram_jaccard_join — exact n-gram Jaccard over candidate pairs.
  * substring_duplicate_spans — SPAN-level exact dedup (winnowing
    anchors → gram equi-join → maximal extension): finds the shared
    license blocks / boilerplate runs that doc-level near-dup misses.

All hashing is deterministic (no Python hash()); heavy lifting stays in
built-in functions (xxhash64, explode, groupBy) — Python only where a
per-doc loop is unavoidable, and then Arrow-batched.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from godal_spark.plans.skew import spread_small_scan

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: keep lowest id, count copies."""
    return (docs.withColumn("text_hash", F.md5(F.col(text_col)))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_copies")))


# ---------------------------------------------------------------------------
# shingles + minhash
# ---------------------------------------------------------------------------


def with_shingles(docs: DataFrame, text_col: str = "text", k: int = 5,
                  word: bool = True) -> DataFrame:
    """Adds `shingles: array<string>` — distinct k-grams (word or char)."""
    if word:
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    else:
        txt = F.lower(F.col(text_col))
        n = F.length(txt)
        idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
        sh = F.transform(idx, lambda i: F.substring(txt, 1, 0))  # placeholder
        sh = F.expr(f"transform(sequence(1, greatest(length(lower({text_col})) - {k} + 1, 1)),"
                    f" i -> substr(lower({text_col}), i, {k}))")
    return docs.withColumn("shingles", F.array_distinct(sh))


def _minhash_params(num_hashes: int, seed: int = 42):
    """Multiply-shift universal hash family over uint64 wrap-around
    arithmetic (odd multipliers) — fully numpy-vectorizable, unlike the
    classic (a*x+b) mod (2^61-1) which needs 128-bit intermediates."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    return a, b


def with_minhash(docs: DataFrame, num_hashes: int = 64, seed: int = 42) -> DataFrame:
    """Adds `minhash: array<long>` from the `shingles` column.

    Base hash is Spark's xxhash64 (JVM); the num_hashes mixes run as ONE
    numpy (num_hashes × n_shingles) uint64 outer product per doc inside
    the Arrow batch — no per-element Python.
    """
    a, b = _minhash_params(num_hashes, seed)
    docs = docs.withColumn(
        "__base", F.transform(F.col("shingles"), lambda s: F.xxhash64(s)))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def mh(base: pd.Series) -> pd.Series:
        out = []
        empty = [0] * len(a)
        with np.errstate(over="ignore"):
            for arr in base:
                if arr is None or len(arr) == 0:
                    out.append(empty)
                    continue
                x = np.asarray(arr, dtype=np.int64).view(np.uint64)
                mixed = a[:, None] * x[None, :] + b[:, None]  # uint64 wrap
                out.append(mixed.min(axis=1).view(np.int64).tolist())
        return pd.Series(out)

    return docs.withColumn("minhash", mh(F.col("__base"))).drop("__base")


def with_shingle_minhash_fused(docs: DataFrame, text_col: str = "text",
                               k: int = 5, num_hashes: int = 64,
                               seed: int = 42,
                               bands: int | None = None) -> DataFrame:
    """Adds `shingle_hashes: array<long>` (sorted distinct 64-bit hashes
    of the word k-grams) and `minhash: array<long>` in ONE Arrow-batched
    pandas UDF. With `bands` set, also adds `buckets: array<long>` — the
    per-band LSH bucket keys, folded in the SAME numpy pass: the
    interpreted aggregate/slice/xxhash64 codegen fold this replaces was
    the dominant JVM cost of the banding stage (~12 s of task time on a
    50k-doc corpus; higher-order functions are evaluated per element,
    not codegen'd). A fold collision only creates a false CANDIDATE,
    which the exact-Jaccard verify removes, and equal band slices fold
    equal under any deterministic function — so the candidate semantics
    are unchanged.

    Semantically equivalent to with_shingles→with_minhash except shingles
    are carried as hashes, not strings: |A∩B| and |A∪B| — hence exact
    Jaccard — are preserved (64-bit collisions are negligible at corpus
    scale). Measured ~3× faster end-to-end than the nested
    transform/slice/concat_ws codegen expression on short documents, and
    the Arrow exchange ships one long array per doc instead of a string
    array.
    """
    import hashlib
    import re

    # a small corpus parquet often reads as ONE split (sf0.1 documents:
    # a single file under maxPartitionBytes) and the heavy shingle UDF
    # then runs on one core — spread it before the compute. At real
    # table scale the input already has >= cores splits and this no-ops.
    docs = spread_small_scan(docs)

    a, b = _minhash_params(num_hashes, seed)
    rows_per_band = (num_hashes // bands) if bands else 0
    # Java/DuckDB \s is ASCII; Python str.split()/re default are Unicode —
    # pin ASCII so token sets (hence Jaccard) match the SQL oracle exactly
    ws = re.compile(r"\s+", re.ASCII)

    band_ix = np.arange(bands, dtype=np.uint64) if bands else None

    def _buckets(sig: np.ndarray) -> list:
        # FNV-1a-shaped uint64 fold over each band's signature slice
        # (vectorized across bands; wrap-around multiply mixes bits).
        # The band INDEX is folded into the key, so the join below runs
        # on one long column instead of (band, bucket) — narrower
        # shuffle, and cross-band key collisions are 2^-64 fold
        # accidents that the exact verify removes anyway.
        acc = (np.uint64(0xCBF29CE484222325) ^ band_ix) \
            * np.uint64(0x100000001B3)
        # use the first bands*rows_per_band signature entries — identical
        # to the old F.slice fold, which silently dropped the remainder
        # when bands does not divide num_hashes (reshape would raise)
        bs = sig[:bands * rows_per_band].reshape(bands, rows_per_band)
        for j in range(rows_per_band):
            acc = (acc ^ bs[:, j]) * np.uint64(0x100000001B3)
        return acc.view(np.int64)

    # mapInArrow, not a pandas UDF (guide §4.2): the per-doc numpy body
    # costs ~100 µs, but the pandas_udf struct-of-arrays return path
    # spent 2-3x that again boxing each row's lists through pandas. Here
    # the three list columns are built ONCE per batch from concatenated
    # value buffers + offset arrays (pyarrow ListArray.from_arrays — no
    # per-element Python), and the input columns pass through by
    # reference. As a plan node (not an expression) it also cannot be
    # duplicated by filter pushdown — the previous ArrowEvalPython was
    # evaluated twice per join side via the explode's implicit
    # size()>0 pre-filter (guide §4.4, verified in the physical plan).
    import pyarrow as pa

    in_fields = list(docs.schema.fields)
    out_schema = T.StructType(in_fields + [
        T.StructField("shingle_hashes", T.ArrayType(T.LongType())),
        T.StructField("minhash", T.ArrayType(T.LongType())),
    ] + ([T.StructField("buckets", T.ArrayType(T.LongType()))]
         if bands else []))
    text_ix = docs.columns.index(text_col)

    def fused(batches):
        empty_sig = np.zeros(num_hashes, dtype=np.uint64)
        for batch in batches:
            texts = batch.column(text_ix).to_pylist()
            sh_parts, sh_lens = [], np.empty(len(texts), dtype=np.int64)
            mh_parts = []
            bk_parts = []
            with np.errstate(over="ignore"):
                for ri, t in enumerate(texts):
                    s = ws.sub(" ", (t or "")).strip(" ").lower()
                    toks = s.split(" ") if s else []
                    if not toks:
                        grams = {""}
                    elif len(toks) <= k:
                        grams = {" ".join(toks)}
                    else:
                        grams = {" ".join(toks[i:i + k])
                                 for i in range(len(toks) - k + 1)}
                    hs = np.fromiter(
                        (int.from_bytes(
                            hashlib.blake2b(g.encode(), digest_size=8).digest(),
                            "little") for g in grams),
                        dtype=np.uint64, count=len(grams))
                    hs = np.unique(hs)
                    sh_parts.append(hs)
                    sh_lens[ri] = len(hs)
                    if len(hs) == 0:
                        sig = empty_sig
                    else:
                        sig = (a[:, None] * hs[None, :] + b[:, None]).min(axis=1)
                    mh_parts.append(sig)
                    if bands:
                        bk_parts.append(_buckets(sig))

            def list_arr(parts, fixed_len=None):
                vals = (np.concatenate(parts) if parts
                        else np.empty(0, dtype=np.uint64))
                if fixed_len is not None:
                    offs = np.arange(len(parts) + 1, dtype=np.int32) * fixed_len
                else:
                    offs = np.concatenate(
                        [[0], np.cumsum(sh_lens[:len(parts)])]).astype(np.int32)
                return pa.ListArray.from_arrays(
                    pa.array(offs, type=pa.int32()),
                    pa.array(vals.view(np.int64), type=pa.int64()))

            cols = list(batch.columns) + [
                list_arr(sh_parts),
                list_arr(mh_parts, fixed_len=num_hashes)]
            if bands:
                cols.append(list_arr(bk_parts, fixed_len=bands))
            yield pa.RecordBatch.from_arrays(
                cols, names=list(out_schema.fieldNames()))

    return docs.mapInArrow(fused, schema=out_schema)


def minhash_lsh_candidates(docs: DataFrame, bands: int = 16,
                           id_col: str = "doc_id",
                           num_hashes: int | None = None) -> DataFrame:
    """Band the signature, bucket-join: (id_a, id_b) candidate pairs.

    bands × rows = num_hashes; a pair collides if ANY band matches —
    the standard S-curve. Pairs come from a SELF-EQUI-JOIN on
    (band, bucket) over (id, bucket) rows only: no `collect_set` of a
    whole bucket into one row (round 1 did, which put an unbounded array
    in a single task on a degenerate bucket). The sort-merge join spills,
    and AQE's skew-join split carves up hot buckets — the memory-safe
    shape for a 10^12-doc corpus with boilerplate-heavy buckets.
    """
    if "buckets" in docs.columns:
        # bucket keys precomputed in the fused Arrow pass (numpy fold
        # with the band index folded in — see with_shingle_minhash_fused):
        # the banding stage is a bare explode, no interpreted per-band
        # HOF fold, and everything keys on ONE long column. Shape: count
        # bucket occupancy first (one partial-aggregated exchange of
        # (bucket, count) longs), keep only buckets with >= 2 members —
        # on a real corpus a vanishing fraction — and run the all-pairs
        # self-join on THOSE rows only. This replaces a self-join that
        # exchanged/broadcast the full banded table twice with one keyed
        # aggregation plus a join whose inputs are duplicate-bounded
        # (AQE broadcasts the hot-bucket list when it is small, shuffles
        # when it is not). Single-member buckets produce no pairs, so
        # the candidate set is identical.
        banded = docs.select(
            F.col(id_col).alias("__id"),
            F.explode(F.col("buckets")).alias("bucket"))
        hot_buckets = (banded.groupBy("bucket")
                       .agg(F.count("*").alias("__n"))
                       .filter(F.col("__n") >= 2).select("bucket"))
        hot = banded.join(hot_buckets, "bucket", "left_semi")
        a = hot.select("bucket", F.col("__id").alias("id_a"))
        b = hot.select("bucket", F.col("__id").alias("id_b"))
        return (a.join(b, "bucket")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())
    nh = num_hashes
    if nh is None:
        nh = docs.select(F.size("minhash").alias("n")).first()["n"]
    rows_per_band = nh // bands
    # bucket = FNV-style numeric fold of the band's signature slice —
    # no per-band string building (the previous concat_ws/cast emitted
    # 16 strings per doc, measured as the dominant JVM cost of the
    # banding stage at 800k docs). A within-band fold collision only
    # creates a false CANDIDATE, which exact verify removes.
    banded = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.aggregate(
                    F.slice(F.col("minhash"), bidx * rows_per_band + 1,
                            rows_per_band),
                    F.lit(-3750763034362895579).cast("long"),  # FNV-1a 64 offset
                    lambda acc, v: F.xxhash64(acc, v)))).alias("band", "bucket"))
    a = banded.select("band", "bucket", F.col("__id").alias("id_a"))
    b = banded.select("band", "bucket", F.col("__id").alias("id_b"))
    return (a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def jaccard_verify(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   threshold: float = 0.8, *,
                   signature_prefilter: bool = False,
                   shingle_col: str = "shingles",
                   broadcast_pairs: bool = False) -> DataFrame:
    """Exact Jaccard over candidate pairs via the shingle arrays.

    Default contract: EXACT — every input pair is measured against its
    full shingle arrays.

    signature_prefilter=True (opt-in; minhash_lsh_dedup enables it
    because its candidate set is already probabilistic): when docs carry
    a `minhash` column, estimate Jaccard from the signatures first
    (matching-component fraction — ships num_hashes longs per side
    instead of the full shingle arrays) and drop pairs whose estimate is
    below threshold − 2/√num_hashes (≥4σ below the worst-case binomial
    std). A true pair exactly AT the threshold is dropped with
    probability ≈ Φ(−4) ≈ 3e-5 — the output is probabilistic, not
    exact, which is why the flag defaults off here. On boilerplate-heavy
    corpora where wide-band LSH candidates approach all-pairs, the
    prefilter kills false candidates before the expensive shingle-array
    shuffle.
    """
    # broadcast_pairs: the caller has measured/bounded the candidate-pair
    # set (minhash_lsh_dedup checkpoints + counts it) — hint it broadcast
    # so the signature table is never shuffled for the verify: every join
    # below becomes a map-side hash probe over the (id,id) pairs instead
    # of a full exchange of minhash + shingle arrays (guide §3.1:
    # broadcast the side that fits; measured 4 exchanges x ~25 MB removed
    # at 50k docs).
    # Every pair-derived frame below is hinted broadcast, so each join
    # plans as a map-side hash probe with the signature table streaming
    # from cache — no exchange of minhash/shingle arrays at all (the
    # pair-side build includes the previous broadcast join, which is
    # itself pair-count-bounded).
    maybe_b = F.broadcast if broadcast_pairs else (lambda df: df)
    if signature_prefilter and "minhash" in docs.columns:
        ma = docs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("__ma"))
        mb = docs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("__mb"))
        est = (F.size(F.filter(
            F.zip_with("__ma", "__mb", lambda x, y: x == y), lambda v: v))
            .cast("double") / F.size("__ma"))
        cutoff = F.lit(threshold) - F.lit(2.0) / F.sqrt(F.size("__ma").cast("double"))
        pairs = (mb.join(maybe_b(ma.join(maybe_b(pairs), "id_a")), "id_b")
                 .filter(est >= cutoff).select("id_a", "id_b"))
    a = docs.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("sh_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("sh_b"))
    j = b.join(maybe_b(a.join(maybe_b(pairs), "id_a")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    j = j.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(1.0)))
    return (j.filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def minhash_lsh_dedup(docs: DataFrame, *, k: int = 5, num_hashes: int = 64,
                      bands: int = 16, threshold: float = 0.8,
                      id_col: str = "doc_id", text_col: str = "text",
                      materialize: bool = True) -> DataFrame:
    """Full near-dup pipeline → verified (id_a, id_b, jaccard) pairs.

    materialize=True (default): the narrow signature frame
    (id, minhash, shingles) is persisted ONCE, the verified pairs are
    computed eagerly and lineage-truncated (localCheckpoint — the
    local-mode analogue of the checkpoint-table write a 100 TB run
    would do), and the signature cache is unpersisted before returning
    — no cached blocks leak into later pipeline stages (round 1
    persisted the full docs frame forever). Without materialization the
    lazy plan recomputes the minhash UDF once per join branch (4-6×,
    measured 3x slower end-to-end).

    bands=16 over num_hashes=64 gives rows=4 — collision p at
    jaccard 0.3 is ~12%, vs rows=2 where boilerplate pairs (j≈0.3)
    collide with ~95% and the candidate set degenerates toward
    all-pairs.
    """
    d = with_shingle_minhash_fused(docs, text_col, k=k, num_hashes=num_hashes,
                                   bands=bands)
    sig = d.select(F.col(id_col), "minhash", "shingle_hashes", "buckets")
    if not materialize:
        cand = minhash_lsh_candidates(sig, bands=bands, id_col=id_col,
                                      num_hashes=num_hashes)
        return jaccard_verify(sig, cand, id_col=id_col, threshold=threshold,
                              signature_prefilter=True,
                              shingle_col="shingle_hashes")
    # Materialize the signature frame ONCE with an eager localCheckpoint:
    # lineage is truncated to the materialized blocks, so every branch
    # below (banding, hot-bucket semi, both verify sides) scans the
    # checkpoint instead of re-running the Arrow pass. (A persist+count
    # was not enough: the nondeterministic-marked UDF defeats the cache
    # manager's sameResult lookup and each branch silently re-ran the
    # UDF — measured 4x the fused stage in one wall.)
    sig = sig.localCheckpoint(eager=True)
    # a checkpointed-RDD scan has NO column pruning (LogicalRDD hands
    # back full InternalRows), so the two banding-side readers (bucket
    # occupancy agg + hot semi-join) would each deserialize the wide
    # shingle+minhash arrays just to explode 16 longs. Give them a
    # narrow (id, buckets) checkpoint — one extra cheap job, ~6x fewer
    # bytes per banding scan; the verify branches still read `sig`.
    banded_src = sig.select(F.col(id_col), "buckets") \
        .localCheckpoint(eager=True)
    cand = minhash_lsh_candidates(banded_src, bands=bands, id_col=id_col,
                                  num_hashes=num_hashes)
    # Materialize the (id,id) candidate pairs and measure them: when
    # they fit (the normal regime — candidates ~ O(duplicates), not
    # O(corpus)), the verify runs with the pairs BROADCAST, so the
    # signature table is never shuffled (guide §3.1); past the cap it
    # falls back to the shuffle-join verify. The checkpoint also stops
    # the banding subtree from re-running once per verify branch.
    cand = cand.localCheckpoint(eager=True)
    n_cand = cand.count()
    # the broadcast build side of the verify carries each pair's FULL
    # shingle + minhash arrays, so the guard must bound bytes, not rows:
    # small pair sets broadcast unconditionally; mid-size sets pay one
    # cheap agg on the checkpointed signatures to estimate the build
    # width against a 1 GB ceiling (Spark hard-caps broadcasts at 8 GB);
    # anything larger keeps the round-5 shuffle-join verify
    broadcast_ok = n_cand <= 200_000
    if not broadcast_ok and n_cand <= 2_000_000:
        avg_sh = sig.agg(F.avg(F.size("shingle_hashes"))).first()[0] or 0.0
        est_bytes = n_cand * (16 * avg_sh + 16 * num_hashes + 48)
        broadcast_ok = est_bytes < (1 << 30)
    # no output checkpoint: sig and cand are already materialized, so
    # the verify is a cheap narrow plan over checkpointed blocks — an
    # eager result checkpoint would just compute it twice (once into
    # block storage, once when the caller reads)
    return jaccard_verify(sig, cand, id_col=id_col, threshold=threshold,
                          signature_prefilter=True,
                          shingle_col="shingle_hashes",
                          broadcast_pairs=broadcast_ok)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def with_simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit simhash over word tokens (xxhash64 base, Arrow bit-vote)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    docs = docs.withColumn("__th", F.transform(toks, lambda t: F.xxhash64(t)))

    @F.pandas_udf(T.LongType())
    def sh(hashes: pd.Series) -> pd.Series:
        out = []
        for arr in hashes:
            if arr is None or len(arr) == 0:
                out.append(0)
                continue
            h = np.asarray(arr, dtype=np.uint64)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
            votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
            val = 0
            for i in range(64):
                if votes[i] > 0:
                    val |= 1 << i
            out.append(val - (1 << 64) if val >= (1 << 63) else val)
        return pd.Series(out, dtype="int64")

    # guide §4.4: the bucket-key isnotnull filter downstream is pushed
    # below this UDF and duplicates the ArrowEvalPython node (verified:
    # 2 evals per self-join side in the round-5 plan) — nondeterministic
    # marking pins a single evaluation per side
    sh = sh.asNondeterministic()
    return docs.withColumn("simhash", sh(F.col("__th"))).drop("__th")


def simhash_candidates(docs: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 3) -> DataFrame:
    """Pigeonhole bucket join: 4 x 16-bit chunks — any pair within
    Hamming distance ≤ 3 shares at least one identical chunk."""
    chunks = F.sequence(F.lit(0), F.lit(3))
    banded = docs.select(
        F.col(id_col).alias("__id"), F.col("simhash"),
        F.explode(chunks).alias("chunk"))
    banded = banded.withColumn(
        "key", F.expr("shiftright(simhash, chunk * 16) & 65535"))
    # self-join on (chunk, key) — like minhash_lsh_candidates, no
    # collect_set of a whole bucket into one row (spill-safe, AQE-split)
    a = banded.select("chunk", "key", F.col("__id").alias("id_a"),
                      F.col("simhash").alias("h_a"))
    b = banded.select("chunk", "key", F.col("__id").alias("id_b"),
                      F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (a.join(b, ["chunk", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming").distinct())


def simhash_dedup(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    return simhash_candidates(with_simhash(docs, text_col), id_col, max_hamming)


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_dedup(emb: DataFrame, *, id_col: str = "vec_id",
                    vec_col: str = "embedding", threshold: float = 0.95,
                    n_planes: int = 16, seed: int = 42,
                    max_bucket: int = 1024,
                    oversized_metrics: dict | None = None) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold.

    Candidates from random-hyperplane LSH (sign sketch) buckets, verified
    exactly. For high thresholds most duplicate pairs share the full
    sketch; recall is boosted by also bucketing on 2 half-sketches.

    Scale shape (round-2 redesign; round 1 `collect_list`ed each bucket
    into ONE row — a degenerate bucket of a near-identical corpus put an
    unbounded array in a single task):
      * buckets of ≤ max_bucket members generate all-pairs via a
        self-join on the bucket key (spill-safe, AQE-splittable);
      * larger buckets switch to a STAR pattern — every member pairs
        with the bucket's minimum id only (linear in bucket size).
        For the degenerate case that produces oversized buckets
        (near-identical vectors) the star preserves duplicate-cluster
        connectivity; pairs between two non-rep members of an oversized
        MIXED bucket are not emitted — documented recall trade for a
        bounded 10^12-row plan.
      * cosine verification is pure JVM (zip_with/aggregate dot product)
        — no Python in the pair hot path.
    """
    from godal_spark.operators.similarity import with_hyperplane_sketch

    d = with_hyperplane_sketch(emb, vec_col=vec_col, n_planes=n_planes, seed=seed)
    half = n_planes // 2
    buckets = d.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array(
            F.concat(F.lit("f:"), F.col("sketch").cast("string")),
            F.concat(F.lit("l:"), (F.col("sketch").bitwiseAND(F.lit((1 << half) - 1))).cast("string")),
            F.concat(F.lit("h:"), F.shiftright(F.col("sketch"), half).cast("string")),
        )).alias("bucket"))
    sizes = buckets.groupBy("bucket").agg(F.count("*").alias("__bn"),
                                          F.min("__id").alias("__rep"))
    bk = buckets.join(sizes, "bucket").filter(F.col("__bn") > 1)

    if oversized_metrics is not None:
        # surface the star-path recall trade: callers pass a dict to
        # learn how many buckets exceeded max_bucket (raise it, or chain
        # a transitive-closure pass, if this is non-zero on mixed data)
        row = (sizes.filter(F.col("__bn") > max_bucket)
               .agg(F.count("*").alias("n"),
                    F.coalesce(F.max("__bn"), F.lit(0)).alias("mx")).first())
        oversized_metrics["oversized_buckets"] = int(row["n"])
        oversized_metrics["largest_bucket"] = int(row["mx"])
        oversized_metrics["max_bucket"] = int(max_bucket)

    small = bk.filter(F.col("__bn") <= max_bucket)
    pa = small.select("bucket", F.col("__id").alias("id_a"))
    pb = small.select("bucket", F.col("__id").alias("id_b"))
    pairs_small = (pa.join(pb, "bucket")
                   .filter(F.col("id_a") < F.col("id_b"))
                   .select("id_a", "id_b"))
    pairs_big = (bk.filter(F.col("__bn") > max_bucket)
                 .filter(F.col("__id") != F.col("__rep"))
                 .select(F.col("__rep").alias("id_a"), F.col("__id").alias("id_b")))
    cand = pairs_small.unionByName(pairs_big).distinct()

    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    j = cand.join(va, "id_a").join(vb, "id_b")
    dot = F.aggregate(F.zip_with("__va", "__vb",
                                 lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, v: acc + v)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    cos = dot / (nrm(F.col("__va")) * nrm(F.col("__vb")))
    return (j.withColumn("__cos", cos).filter(F.col("__cos") >= threshold)
            .select("id_a", "id_b", F.round("__cos", 6).alias("cosine")))


def duplicate_clusters(pairs: DataFrame, *, id_a: str = "id_a",
                       id_b: str = "id_b",
                       max_iter: int = 25) -> DataFrame:
    """Connected components over verified duplicate pairs →
    (id, cluster) with cluster = the component's minimum id.

    The transitive-closure step behind the oversized-bucket star trade
    (r3 ADVICE follow-on): two members of an oversized LSH bucket never
    get a DIRECT verified pair — both only paired with the bucket
    representative — but closure over those star edges still places them
    in one cluster. Distributed min-label propagation with pointer
    doubling (label[n] ← min over neighbors, then hop compression):
    O(log diameter) rounds, and a star graph converges in 2 — no driver
    collect at any scale. Same machinery class as the polygonize border
    graph (operators/polygonize.py _resolve_roots_distributed)."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = e.unionByName(e.select(F.col("b").alias("a"),
                                   F.col("a").alias("b"))).distinct()
    edges = edges.localCheckpoint(eager=True)
    lab = (edges.select(F.col("a").alias("id"))
           .distinct().withColumn("lab", F.col("id")))
    for _ in range(max_iter):
        # neighbor-min pass
        nbr = (edges.join(lab.withColumnRenamed("id", "b")
                          .withColumnRenamed("lab", "nl"), "b")
               .groupBy("a").agg(F.min("nl").alias("nl"))
               .withColumnRenamed("a", "id"))
        new = (lab.join(nbr, "id", "left")
               .select("id", F.least("lab", F.coalesce("nl", "lab"))
                       .alias("lab")))
        # pointer doubling: lab ← lab's own label (hop compression)
        hop = new.select(F.col("id").alias("lab"),
                         F.col("lab").alias("ll"))
        new = (new.join(hop, "lab", "left")
               .select("id", F.least("lab", F.coalesce("ll", "lab"))
                       .alias("lab")))
        new = new.localCheckpoint(eager=True)  # truncate iterative lineage
        changed = (new.join(lab.withColumnRenamed("lab", "ol"), "id")
                   .filter(F.col("lab") != F.col("ol")).limit(1).count())
        lab = new
        if changed == 0:
            break
    else:
        # error-first: a silent non-converged return would hand back
        # WRONG cluster labels (neighbor-min + pointer jumping compounds,
        # so 25 rounds cover any realistic diameter — a 299-hop path
        # converges well within it; hitting this means the graph is
        # pathological, not that the answer is approximately right)
        raise RuntimeError(
            f"duplicate_clusters: no fixpoint after {max_iter} rounds")
    return lab.select(F.col("id"), F.col("lab").alias("cluster"))


def embedding_dedup_clusters(emb: DataFrame, **kwargs) -> DataFrame:
    """embedding_dedup + transitive closure: (id, cluster) for every
    vector that has at least one verified near-duplicate."""
    return duplicate_clusters(embedding_dedup(emb, **kwargs))


# ---------------------------------------------------------------------------
# span-level EXACT substring dedup (training-data pipelines deduplicate
# repeated SPANS — license blocks, boilerplate — that doc-level near-dup
# misses; cf. the published "Deduplicating Training Data" methodology and
# the winnowing fingerprinting scheme of Schleimer et al., SIGMOD'03)
# ---------------------------------------------------------------------------


def with_winnowing_anchors(docs: DataFrame, *, k: int = 16,
                           select_window: int = 16,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """One row per winnowing-selected k-gram: (id, pos, gram).

    Winnowing picks, in every sliding window of `select_window`
    consecutive k-gram hashes, the RIGHTMOST minimal hash. Selection is
    content-relative, so two documents sharing ANY substring of length
    >= k + select_window - 1 select at least one identical in-span
    k-gram at the same content offset — the detection guarantee that a
    fixed-stride sampling lacks (stride anchors only match when the
    shared block lands at equal offsets mod stride).

    Anchor density ~ 2/(select_window+1); hashing + sliding min run in
    numpy per Arrow batch, one pass per document.
    """
    import zlib

    guard = k  # noqa: F841  (documented: guarantee = k + select_window - 1)

    def gen(batches):
        for pdf in batches:
            ids, poss, grams = [], [], []
            for rec in pdf.itertuples(index=False):
                t = getattr(rec, text_col) or ""
                did = getattr(rec, id_col)
                n = len(t) - k + 1
                if n <= 0:
                    continue
                h = np.fromiter(
                    (zlib.crc32(t[i:i + k].encode("utf-8", "surrogatepass"))
                     for i in range(n)),
                    dtype=np.int64, count=n)
                if n <= select_window:
                    sel = {int(np.flatnonzero(h == h.min())[-1])}
                else:
                    sw = np.lib.stride_tricks.sliding_window_view(
                        h, select_window)
                    # rightmost minimum per window: argmin of the
                    # reversed window
                    rev = sw[:, ::-1]
                    am = select_window - 1 - np.argmin(rev, axis=1)
                    sel = set((np.arange(len(sw)) + am).tolist())
                for p in sorted(sel):
                    ids.append(did)
                    poss.append(p)
                    grams.append(t[p:p + k])
            yield pd.DataFrame({"__id": ids, "pos": poss, "gram": grams})

    src = spread_small_scan(docs.select(F.col(id_col), F.col(text_col)))
    return src.mapInPandas(gen, schema="__id long, pos int, gram string")


def substring_duplicate_spans(docs: DataFrame, *, k: int = 16,
                              select_window: int = 16, min_span: int = 40,
                              id_col: str = "doc_id", text_col: str = "text",
                              max_fanout: int = 256) -> DataFrame:
    """Maximal EXACT shared substrings of length >= min_span across
    documents — the span-level dedup doc-level near-dup misses
    (boilerplate, license blocks, shared headers).

    Plan shape (never all-pairs, no Python on the join path):
      1. winnowing anchors per doc (content-defined — see
         with_winnowing_anchors); detection guaranteed for spans
         >= k + select_window - 1 chars;
      2. grams above `max_fanout` occurrences are dropped BEFORE the
         join (a header shared by 10^6 docs is a doc-level-dedup case,
         not a 10^12-pair join — documented recall bound);
      3. anchor self-join on the 16-char gram TEXT (exact equality —
         no hash-collision verify pass);
      4. candidate pairs join their two texts once and an Arrow batch
         EXTENDS each matched anchor left+right to the maximal equal
         run; spans < min_span are dropped, duplicates (several anchors
         inside one span) collapse via distinct.

    Output: (id_a, pos_a, id_b, pos_b, span_len), id_a < id_b, maximal.
    """
    # The anchor table feeds THREE plan branches (fanout counts + the a
    # and b sides of the self-join) — without materialization the
    # winnowing Arrow pass (crc32 per k-gram, the pipeline's dominant
    # CPU) re-runs once per branch (measured 3x ~9 s of task time at 50k
    # docs). An eager localCheckpoint materializes it once and truncates
    # lineage; the blocks live until the checkpointed RDD is GC'd.
    anchors = with_winnowing_anchors(
        docs, k=k, select_window=select_window,
        id_col=id_col, text_col=text_col).localCheckpoint(eager=True)
    counts = anchors.groupBy("gram").count()                     .filter(F.col("count") <= max_fanout)
    kept = anchors.join(counts.select("gram"), "gram", "left_semi")
    a = kept.select("gram", F.col("__id").alias("id_a"),
                    F.col("pos").alias("pos_a"))
    b = kept.select("gram", F.col("__id").alias("id_b"),
                    F.col("pos").alias("pos_b"))
    cand = (a.join(b, "gram")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "pos_a", "id_b", "pos_b"))
    # every anchor inside one shared span extends to the SAME maximal
    # run, and winnowing guarantees in-span anchors at most
    # ~select_window apart — so keep ONE representative per
    # (pair, diagonal, gap-cluster) before joining the texts back. This
    # cuts the text-join fanout from #matching-anchors to #spans (a
    # 10 kB shared block would otherwise ship both texts ~600x).
    from pyspark.sql import Window as W

    gap = k + select_window
    dw = W.partitionBy("id_a", "id_b",
                       F.col("pos_a") - F.col("pos_b")).orderBy("pos_a")
    clustered = (cand
                 .withColumn("__new", F.when(
                     F.col("pos_a") - F.lag("pos_a").over(dw) <= gap,
                     F.lit(0)).otherwise(F.lit(1)))
                 .withColumn("__cl", F.sum("__new").over(
                     dw.rowsBetween(W.unboundedPreceding, 0))))
    reps = (clustered
            .groupBy("id_a", "id_b",
                     (F.col("pos_a") - F.col("pos_b")).alias("__diag"), "__cl")
            .agg(F.min("pos_a").alias("pos_a"), F.min("pos_b").alias("pos_b"))
            .drop("__diag", "__cl"))
    ta = docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("ta_txt"))
    tb = docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("tb_txt"))
    j = reps.join(ta, "id_a").join(tb, "id_b")

    def extend(batches):
        for pdf in batches:
            rows = {"id_a": [], "pos_a": [], "id_b": [], "pos_b": [],
                    "span_len": []}
            for r in pdf.itertuples(index=False):
                taa, tbb = r.ta_txt, r.tb_txt
                pa, pb = int(r.pos_a), int(r.pos_b)
                left = 0
                while (pa - left - 1 >= 0 and pb - left - 1 >= 0
                       and taa[pa - left - 1] == tbb[pb - left - 1]):
                    left += 1
                right = k
                while (pa + right < len(taa) and pb + right < len(tbb)
                       and taa[pa + right] == tbb[pb + right]):
                    right += 1
                ln = left + right
                if ln < min_span:
                    continue
                rows["id_a"].append(r.id_a)
                rows["pos_a"].append(pa - left)
                rows["id_b"].append(r.id_b)
                rows["pos_b"].append(pb - left)
                rows["span_len"].append(ln)
            yield pd.DataFrame(rows)

    return j.mapInPandas(
        extend, schema="id_a long, pos_a int, id_b long, pos_b int, "
                       "span_len int").distinct()
