"""Custom stateful streaming operators (applyInPandasWithState).

The reference's only stateful concerns are offsets/schema versions
(SURVEY.md §2.8); these operators are the north-star extensions that
genuinely need user-level state:

- ``dedup_by_seq``: consumer-side exactly-once (reference K7): drop
  ops whose (producer_id, seq) was already seen, keeping a per-key
  high-watermark — O(1) state per producer, not a seen-set.
- ``running_user_totals``: per-user running aggregates emitted every
  micro-batch (the CDC-consumer materialized-view pattern).
- ``streaming_doc_dedup``: continuous-ingestion exact-content dedup —
  per-shard Bloom filters in GroupState, bounded forever.
- ``streaming_protobuf_consumer``: the reference kafka-consumer as a
  long-running stateful decode (seq watermark + open fragment group
  persisted across micro-batches).

All keep state bounded by construction; all are Arrow-batched
(pandas), the sanctioned slow path.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

_DEDUP_OUT = StructType(
    [
        StructField("producer_id", LongType()),
        StructField("seq", LongType()),
        StructField("log_pos", LongType()),
    ]
)
_DEDUP_STATE = StructType([StructField("max_seq", LongType())])


def _dedup_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (max_seen,) = state.get if state.exists else (-1,)
    out = []
    for pdf in pdfs:
        # intra-batch retries collapse too: a duplicate seq arriving in
        # the same micro-batch is as real as one across batches
        pdf = pdf.sort_values("seq").drop_duplicates("seq")
        fresh = pdf[pdf["seq"] > max_seen]
        if len(fresh):
            max_seen = int(fresh["seq"].max())
            out.append(fresh[["producer_id", "seq", "log_pos"]])
    state.update((max_seen,))
    if out:
        yield pd.concat(out)


def dedup_by_seq(stream: DataFrame) -> DataFrame:
    """Exactly-once consumer dedup on monotone seq per producer."""
    return (
        stream.groupBy("producer_id")
        .applyInPandasWithState(
            _dedup_fn,
            outputStructType=_DEDUP_OUT,
            stateStructType=_DEDUP_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_TOTALS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_k", LongType()),
    ]
)
_TOTALS_STATE = StructType(
    [StructField("n_events", LongType()), StructField("total_k", LongType())]
)


def _totals_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += int(pdf["k"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_k": [total]})


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user running (count, sum-of-k) state machine; emits the
    current totals each micro-batch the user appears in."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _totals_fn,
        outputStructType=_TOTALS_OUT,
        stateStructType=_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_PROTO_OUT = StructType(
    [
        StructField("producer_id", LongType()),
        StructField("end_seq", LongType()),
        StructField("op_index", LongType()),
        StructField("row_index", LongType()),
        StructField("op_type", StringType()),
        StructField("server_id", LongType()),
        StructField("timestamp", LongType()),
        StructField("log_pos", LongType()),
        StructField("gtid", StringType()),
        StructField("db", StringType()),
        StructField("table", StringType()),
        StructField("statement", StringType()),
        StructField("next_log_name", StringType()),
        StructField("progress_gset", StringType()),
        StructField("before", MapType(StringType(), StringType())),
        StructField("before_null", MapType(StringType(), BooleanType())),
        StructField("after", MapType(StringType(), StringType())),
        StructField("after_null", MapType(StringType(), BooleanType())),
    ]
)
# decoder state per producer: seq high-watermark + the open fragment
# group (reassembly IS byte concatenation, so one binary buffer is the
# whole group state — O(group payload), bounded by max_payload_size ×
# fragments, never a seen-set)
_PROTO_STATE = StructType(
    [
        StructField("cur_seq", LongType()),
        StructField("group_id", LongType()),
        StructField("begin_seq", LongType()),
        StructField("compression", LongType()),
        StructField("buf", BinaryType()),
        StructField("in_group", LongType()),  # 0/1 (flag)
    ]
)


def _proto_decode_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    from dolphinbeat_spark.sinks import wire_protocol as wp

    dec = wp.OperationDecoder()
    dec._cur_producer = int(key[0])
    if state.exists:
        cur_seq, group_id, begin_seq, compression, buf, in_group = state.get
        dec._cur_seq = cur_seq
        if in_group:
            dec._fragments = [bytes(buf or b"")]
            dec._group = {
                "group_id": group_id,
                "begin_seq": begin_seq,
                "begin_offset": 0,
                "compression": compression,
            }
    from dolphinbeat_spark.sinks.ordered import OP_TAIL_COLS, op_row_tails

    out = []
    # applyInPandasWithState may split a group's rows across Arrow
    # chunks in arbitrary post-shuffle order — materialize ALL chunks
    # and sort ONCE by arrival, or a batch spanning chunks can feed the
    # decoder out of seq order and stall it permanently at the gap.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    whole = (
        pd.concat(chunks, ignore_index=True).sort_values("arrival")
        if chunks
        else pd.DataFrame(columns=["value", "arrival"])
    )
    from dolphinbeat_spark.sinks.ordered import corrupt_row_tail

    for _, r in whole.iterrows():
        try:
            res = dec.feed(bytes(r["value"]), offset=int(r["arrival"]))
        except Exception as ex:  # noqa: BLE001 - corrupt message: dead-letter
            # feed() restored its own group invariant before raising
            out.append(
                (dec._cur_producer, None, 0, 0)
                + corrupt_row_tail(ex, int(r["arrival"]))
            )
            continue
        if res is None:
            continue
        for i, op in enumerate(res.ops):
            for j, tail in enumerate(op_row_tails(op)):
                out.append((dec._cur_producer, res.end_seq, i, j) + tail)
    g = dec._group if dec._fragments else {}
    state.update(
        (
            dec._cur_seq,
            g.get("group_id", 0),
            g.get("begin_seq", 0),
            g.get("compression", 0),
            b"".join(dec._fragments),
            1 if dec._fragments else 0,
        )
    )
    if out:
        yield pd.DataFrame(
            out,
            columns=["producer_id", "end_seq", "op_index", "row_index"] + OP_TAIL_COLS,
        )


def streaming_protobuf_consumer(stream: DataFrame) -> DataFrame:
    """STREAMING protobuf consumer (the reference kafka-consumer as a
    long-running Structured Streaming op): per-producer stateful decode
    where the seq high-watermark AND any open fragment group persist in
    GroupState — a group whose fragments span micro-batches (or a
    restart) completes correctly, which a stateless per-batch decode
    cannot do.

    ``stream`` needs columns (producer_id long, arrival long,
    value binary) — ``arrival`` is any per-producer monotone transport
    order (kafka partition offset, file sequence number)."""
    return stream.groupBy("producer_id").applyInPandasWithState(
        _proto_decode_fn,
        outputStructType=_PROTO_OUT,
        stateStructType=_PROTO_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming document dedup: bounded-state exact dedup for continuous
# ingestion (the LLM-pipeline twin of operators/dedup.py::exact dedup —
# that one is a batch groupBy over the corpus; this one admits documents
# AS THEY ARRIVE, emitting only first-seen content)
# ---------------------------------------------------------------------------

_DOC_DEDUP_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fingerprint", StringType()),
    ]
)
# per-shard state: admitted-doc count + a Bloom filter over content
# fingerprints. The bloom is the 100 TB discipline: state stays O(bits)
# per shard FOREVER (a seen-set grows with the corpus); the trade is a
# tunable false-positive rate = a few unique docs dropped as dups,
# which training-data dedup accepts by design. No false negatives: a
# true duplicate is never admitted twice.
_DOC_DEDUP_STATE = StructType(
    [StructField("n_admitted", LongType()), StructField("bloom", BinaryType())]
)


def _bloom_positions(fp_hex: str, n_bits: int, k: int) -> list[int]:
    """k bit positions from a hex fingerprint — consume independent
    16-hex-char words, REPLACING the buffer with a fresh md5 chain
    when it runs out so no word is ever re-read (portable, no Python
    hash() seed dependence).

    STATE VERSIONING: the probe layout is part of the persisted bloom
    state's format — changing this function invalidates checkpointed
    filters (previously-admitted docs would be re-admitted). Bump the
    checkpoint (fresh state) alongside any change here."""
    import hashlib

    h = fp_hex
    out = []
    i = 0
    while len(out) < k:
        if (i + 1) * 16 > len(h):
            h = hashlib.md5(h.encode()).hexdigest()  # fresh 32-char block
            i = 0
            continue
        out.append(int(h[i * 16:(i + 1) * 16], 16) % n_bits)
        i += 1
    return out


def make_doc_dedup_fn(n_bits: int = 1 << 20, k_hashes: int = 7):
    """Build the per-shard dedup function (n_bits/k bound the state and
    set the FP rate: ~0.8% at n/m=0.1 with k=7)."""
    import numpy as np

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            n_admitted, raw = state.get
            bloom = np.frombuffer(bytes(raw), dtype=np.uint8).copy()
        else:
            n_admitted, bloom = 0, np.zeros(n_bits // 8, dtype=np.uint8)
        out = []
        # deterministic intra-batch order; first occurrence wins.
        # concat THEN sort so the order is chunk-boundary-independent
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            for _, r in pd.concat(chunks).sort_values("doc_id").iterrows():
                pos = _bloom_positions(str(r["fingerprint"]), n_bits, k_hashes)
                if all(bloom[p >> 3] & (1 << (p & 7)) for p in pos):
                    continue  # seen (or bloom FP): drop
                for p in pos:
                    bloom[p >> 3] |= 1 << (p & 7)
                n_admitted += 1
                out.append((int(r["doc_id"]), str(r["fingerprint"])))
        state.update((n_admitted, bloom.tobytes()))
        if out:
            yield pd.DataFrame(out, columns=["doc_id", "fingerprint"])

    return fn


def streaming_doc_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 64,
    n_bits: int = 1 << 20,
    k_hashes: int = 7,
) -> DataFrame:
    """STREAMING exact-content dedup: admit each document the first
    time its content fingerprint appears across the whole stream
    history, drop every later arrival — continuous-ingestion dedup for
    a training-data pipeline (the batch corpus dedup can't see
    yesterday's corpus without rescanning it; this one's state does).

    Scale shape: fingerprints shard by a stable crc32 → ``n_shards``
    groups, each holding ONE fixed-size Bloom filter — state is
    n_shards × n_bits/8 bytes total regardless of corpus size, and a
    duplicate is never admitted (Bloom errs only toward dropping a
    unique doc, at the documented FP rate). Arrow-batched
    applyInPandasWithState, same discipline as dedup_by_seq.
    """
    from pyspark.sql import functions as F

    from dolphinbeat_spark.operators.text import fingerprint

    shaped = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fingerprint"),
    ).withColumn(
        "shard", F.pmod(F.crc32(F.col("fingerprint").cast("binary")), F.lit(n_shards))
    )
    return shaped.groupBy("shard").applyInPandasWithState(
        make_doc_dedup_fn(n_bits, k_hashes),
        outputStructType=_DOC_DEDUP_OUT,
        stateStructType=_DOC_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming NEAR-dup dedup: minhash-band flags over bounded Bloom state
# ---------------------------------------------------------------------------

_BAND_FLAGS_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("band", LongType()),
        StructField("was_seen", BooleanType()),
    ]
)


def make_band_flags_fn(n_bits: int = 1 << 20, k_hashes: int = 5):
    """Per-shard mark-and-report over band keys: marks every key,
    reports whether it was already present (no dropping here — the
    admit decision needs ALL of a doc's bands, aggregated by
    :func:`near_dup_admitted`)."""
    import numpy as np

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            n_marked, raw = state.get
            bloom = np.frombuffer(bytes(raw), dtype=np.uint8).copy()
        else:
            n_marked, bloom = 0, np.zeros(n_bits // 8, dtype=np.uint8)
        out = []
        # concat THEN sort (chunk-boundary-independent "earlier doc
        # wins" — same discipline as the verified path and the
        # protobuf decoder's cross-chunk fix)
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            for _, r in pd.concat(chunks).sort_values(["doc_id", "band"]).iterrows():
                pos = _bloom_positions(str(r["band_key"]), n_bits, k_hashes)
                seen = all(bloom[p >> 3] & (1 << (p & 7)) for p in pos)
                if not seen:
                    for p in pos:
                        bloom[p >> 3] |= 1 << (p & 7)
                    n_marked += 1
                out.append((int(r["doc_id"]), int(r["band"]), bool(seen)))
        state.update((n_marked, bloom.tobytes()))
        if out:
            yield pd.DataFrame(out, columns=["doc_id", "band", "was_seen"])

    return fn


def streaming_band_flags(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    n_shards: int = 64,
    n_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """STREAMING near-dup detection, stage 1: minhash-band the text
    (map-only Catalyst, the batch pipeline's exact banding math) and
    mark-and-report each band key against per-shard Bloom state.
    Output: one (doc_id, band, was_seen) row per band — aggregate with
    :func:`near_dup_admitted` (all of a doc's flags land in the same
    micro-batch, so a foreachBatch consumer composes them directly).

    Semantics (the streaming trade, documented): a doc is a near-dup
    candidate if ANY band was seen before — standard LSH OR-
    amplification, but WITHOUT the batch pipeline's exact-similarity
    verify, and a flagged doc's other bands still mark the filter
    (conservative over-dropping on later arrivals). State stays
    n_shards × n_bits/8 bytes forever."""
    from pyspark.sql import functions as F

    from dolphinbeat_spark.functions.hashes import affine_hash, hash64, minhash_params
    from dolphinbeat_spark.operators.text import tokens, word_shingles_from_tokens

    params = minhash_params(num_perm)
    rows_per_band = num_perm // bands
    toked = stream.select(
        F.col(id_col).cast("long").alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= shingle_k)
    hashed = toked.select(
        "doc_id",
        F.transform(
            word_shingles_from_tokens(F.col("__toks"), shingle_k), lambda s: hash64(s)
        ).alias("__hs"),
    )
    mh = [
        F.array_min(F.transform("__hs", lambda h: affine_hash(h, a, b)))
        for (a, b) in params
    ]
    band_structs = [
        F.struct(
            F.lit(b).cast("long").alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[m.cast("string") for m in mh[b * rows_per_band:(b + 1) * rows_per_band]],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = hashed.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("e")
    ).select(
        "doc_id",
        F.col("e.band").alias("band"),
        F.col("e.band_key").alias("band_key"),
        F.pmod(F.crc32(F.col("e.band_key").cast("binary")), F.lit(n_shards)).alias("shard"),
    )
    return banded.groupBy("shard").applyInPandasWithState(
        make_band_flags_fn(n_bits, k_hashes),
        outputStructType=_BAND_FLAGS_OUT,
        stateStructType=_DOC_DEDUP_STATE,  # same (count, bloom) shape
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def near_dup_admitted(flags: DataFrame) -> DataFrame:
    """Stage 2 (per micro-batch, e.g. inside foreachBatch): collapse a
    doc's band flags — admitted iff NO band was previously seen."""
    from pyspark.sql import functions as F

    return flags.groupBy("doc_id").agg(
        (~F.bool_or("was_seen")).alias("admitted"),
        F.count(F.lit(1)).alias("n_bands"),
    )


# ---------------------------------------------------------------------------
# streaming near-dup with a VERIFY stage: band collisions are checked
# against the colliding key's stored owner signature before they count
# toward a drop. Closes the plain band-flag path's documented trade
# (OR-amplified LSH admits band-collision false positives unverified —
# material data loss at 100 TB; the batch pipeline verifies candidates
# with exact Jaccard, plans/dedup_queries.py::dedup_lsh_precision).
# ---------------------------------------------------------------------------

_BAND_VERIFY_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("band", LongType()),
        StructField("was_seen", BooleanType()),
        # minhash-estimated Jaccard vs the collided key's owner doc;
        # NULL when the owner signature is unknowable (cache evicted /
        # bloom false positive) — consumers treat NULL conservatively
        StructField("est_jaccard", DoubleType()),
    ]
)
# per-shard state: bloom (same as the flags path) + a bounded
# signature cache of length-prefixed records [2B LE key length |
# key bytes | 8B LE owner doc_id | num_perm x 8B LE signature].
# FIFO eviction at ``cache_cap`` keeps state bounded: cap x
# record_size bytes per shard, on top of the bloom's n_bits/8.
_BAND_VERIFY_STATE = StructType(
    [
        StructField("n_marked", LongType()),
        StructField("bloom", BinaryType()),
        StructField("sig_cache", BinaryType()),
    ]
)


def make_band_verify_fn(
    num_perm: int, n_bits: int = 1 << 20, k_hashes: int = 5, cache_cap: int = 50_000
):
    """Per-shard mark-and-VERIFY over band keys.

    First occurrence of a band key marks the bloom and stores
    (owner doc_id, full minhash signature) in the cache. A later
    arrival hitting the key estimates Jaccard against the owner's
    signature (fraction of equal minhash positions — the standard
    unbiased MinHash estimator) and reports it; the admit decision
    (:func:`near_dup_admitted_verified`) only counts collisions whose
    estimate clears the threshold, so a single spurious band collision
    no longer drops a unique document. NULL estimates (evicted cache
    entry, bloom false positive) stay conservative (count as dup).

    Self-collisions (a doc whose two bands hash to the same key) are
    recognized via the stored owner id and reported as not-seen.

    STATE VERSIONING: record layout + probe layout are part of the
    persisted state format — bump checkpoints on change."""
    import numpy as np

    def _load_cache(raw) -> dict:
        b = bytes(raw)
        cache = {}
        off = 0
        while off < len(b):
            klen = int.from_bytes(b[off:off + 2], "little")
            off += 2
            key = b[off:off + klen].decode("utf-8")
            off += klen
            owner = int.from_bytes(b[off:off + 8], "little", signed=True)
            off += 8
            sig = np.frombuffer(b, dtype="<i8", count=num_perm, offset=off)
            off += num_perm * 8
            cache[key] = (owner, sig)
        return cache

    def _dump_cache(cache: dict) -> bytes:
        parts = []
        for k, (owner, sig) in cache.items():
            kb = k.encode("utf-8")
            parts.append(len(kb).to_bytes(2, "little"))
            parts.append(kb)
            parts.append(int(owner).to_bytes(8, "little", signed=True))
            parts.append(np.asarray(sig, dtype="<i8").tobytes())
        return b"".join(parts)

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            n_marked, raw_bloom, raw_cache = state.get
            bloom = np.frombuffer(bytes(raw_bloom), dtype=np.uint8).copy()
            cache = _load_cache(raw_cache)
        else:
            n_marked = 0
            bloom = np.zeros(n_bits // 8, dtype=np.uint8)
            cache = {}
        # concat THEN sort: per-chunk sorting would let a later Arrow
        # chunk's lower doc_id probe after a higher one marked, making
        # "earlier doc wins" depend on chunk boundaries
        chunks = [p for p in pdfs if len(p)]
        out = []
        if chunks:
            whole = pd.concat(chunks).sort_values(["doc_id", "band"])
            for _, r in whole.iterrows():
                doc = int(r["doc_id"])
                bk = str(r["band_key"])
                sig = np.asarray(r["sig"], dtype=np.int64)
                pos = _bloom_positions(bk, n_bits, k_hashes)
                seen = all(bloom[p >> 3] & (1 << (p & 7)) for p in pos)
                est = None
                if seen:
                    hit = cache.get(bk)
                    if hit is not None and hit[0] == doc:
                        seen = False  # self-collision: doc's own earlier band
                    elif hit is not None:
                        est = float((hit[1] == sig).mean())
                else:
                    for p in pos:
                        bloom[p >> 3] |= 1 << (p & 7)
                    n_marked += 1
                    cache[bk] = (doc, sig)
                    while len(cache) > cache_cap:
                        cache.pop(next(iter(cache)))  # FIFO: oldest insert
                out.append((doc, int(r["band"]), bool(seen), est))
        state.update((n_marked, bloom.tobytes(), _dump_cache(cache)))
        if out:
            yield pd.DataFrame(
                out, columns=["doc_id", "band", "was_seen", "est_jaccard"]
            )

    return fn


def streaming_band_flags_verified(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    n_shards: int = 64,
    n_bits: int = 1 << 20,
    k_hashes: int = 5,
    cache_cap: int = 50_000,
) -> DataFrame:
    """STREAMING near-dup detection WITH the verify stage: the same
    map-only Catalyst banding as :func:`streaming_band_flags`, but each
    row also carries the doc's full minhash signature so collisions are
    verified against the colliding key's owner before they can drop a
    document. Aggregate with :func:`near_dup_admitted_verified`.

    Scale shape: signatures ride the shuffle as num_perm int64s per
    band row (num_perm x bands x 8 bytes per doc — bounded, tunable);
    state adds a capped FIFO signature cache per shard on top of the
    bloom. Everything else matches the unverified path."""
    from pyspark.sql import functions as F

    from dolphinbeat_spark.functions.hashes import affine_hash, hash64, minhash_params
    from dolphinbeat_spark.operators.text import tokens, word_shingles_from_tokens

    params = minhash_params(num_perm)
    rows_per_band = num_perm // bands
    toked = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    ).filter(F.size("__toks") >= shingle_k)
    hashed = toked.select(
        "doc_id",
        F.transform(
            word_shingles_from_tokens(F.col("__toks"), shingle_k), lambda s: hash64(s)
        ).alias("__hs"),
    )
    sig = F.array(
        *[
            F.array_min(F.transform("__hs", lambda h: affine_hash(h, a, b)))
            for (a, b) in params
        ]
    )
    sigd = hashed.select("doc_id", sig.alias("sig"))
    band_structs = [
        F.struct(
            F.lit(b).cast("long").alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col("sig")[i].cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = sigd.select(
        "doc_id", "sig", F.explode(F.array(*band_structs)).alias("e")
    ).select(
        "doc_id",
        F.col("e.band").alias("band"),
        F.col("e.band_key").alias("band_key"),
        "sig",
        F.pmod(F.crc32(F.col("e.band_key").cast("binary")), F.lit(n_shards)).alias(
            "shard"
        ),
    )
    return banded.groupBy("shard").applyInPandasWithState(
        make_band_verify_fn(num_perm, n_bits, k_hashes, cache_cap),
        outputStructType=_BAND_VERIFY_OUT,
        stateStructType=_BAND_VERIFY_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def near_dup_admitted_verified(flags: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Collapse verified band flags: admitted iff no collision was
    CONFIRMED — a band counts against admission only when its Jaccard
    estimate clears ``threshold`` (or is NULL: unknowable owner stays
    conservative). ``any_collision`` preserves what the unverified
    OR-rule would have decided, so precision gains are measurable."""
    from pyspark.sql import functions as F

    confirmed = F.col("was_seen") & (
        F.col("est_jaccard").isNull() | (F.col("est_jaccard") >= threshold)
    )
    return flags.groupBy("doc_id").agg(
        (~F.bool_or(confirmed)).alias("admitted"),
        F.bool_or("was_seen").alias("any_collision"),
        F.count(F.lit(1)).alias("n_bands"),
    )
