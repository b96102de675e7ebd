"""Custom stateful streaming operator tests (applyInPandasWithState)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dolphinbeat_spark.sources.fixture_source import register_fixture_source
from dolphinbeat_spark.streaming.state import dedup_by_seq, running_user_totals


def test_dedup_by_seq_drops_producer_retries(spark, tmp_path):
    """The golden sequence ends with a duplicated op (producer retry,
    FIXTURES.md F5 case g). Keyed by (producer_id, seq=log_pos), the
    stateful dedup must emit each seq exactly once."""
    register_fixture_source(spark)
    stream = (
        spark.readStream.format("dolphinbeat_fixture")
        .option("batch_size", "4")
        .load()
        .filter(F.col("log_pos").isNotNull())
        .select(
            F.lit(1).cast("bigint").alias("producer_id"),
            F.col("log_pos").alias("seq"),
            F.col("log_pos"),
        )
    )
    q = (
        dedup_by_seq(stream)
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckp"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM deduped ORDER BY seq").collect()
    seqs = [r["seq"] for r in rows]
    assert len(seqs) == len(set(seqs)), "duplicate seq leaked through"
    # the duplicated update (same log_pos re-sent later) was dropped
    from dolphinbeat_spark.envelope import golden_sequences

    distinct_pos = {o["log_pos"] for o in golden_sequences() if o["log_pos"] is not None}
    assert set(seqs) == distinct_pos


def test_running_user_totals(spark, tmp_path):
    register_fixture_source(spark)
    # reuse fixture stream as a generic keyed stream: user = server_id
    stream = (
        spark.readStream.format("dolphinbeat_fixture")
        .option("batch_size", "50")
        .load()
        .filter(F.col("log_pos").isNotNull())
        .select(
            F.col("server_id").cast("bigint").alias("user_id"),
            F.coalesce(F.col("log_pos"), F.lit(0)).alias("k"),
        )
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckp"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM totals").collect()
    assert rows, "no state output"
    by_user = {r["user_id"]: r for r in rows}
    assert by_user[1]["n_events"] >= 15


def test_bloom_positions_are_distinct_words():
    """The md5-chain extension must never re-read a consumed word —
    k probes from a 16-char fingerprint are k DISTINCT positions
    (a duplicate would silently lower the effective k and raise the
    documented FP rate)."""
    from dolphinbeat_spark.streaming.state import _bloom_positions

    p = _bloom_positions("0123456789abcdef", 1 << 20, 7)
    assert len(p) == 7 and len(set(p)) == 7
    assert len(set(_bloom_positions("deadbeefdeadbeef", 1 << 14, 9))) == 9
    # deterministic across calls (state restore depends on it)
    assert p == _bloom_positions("0123456789abcdef", 1 << 20, 7)


def test_streaming_doc_dedup_unit_state_machine():
    """Bloom state machine direct: intra-chunk dups, cross-call dups
    (state persisted), and unique admits."""
    import pandas as pd

    from dolphinbeat_spark.streaming.state import make_doc_dedup_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self.value = True, v

        @property
        def get(self):
            return self.value

    fn = make_doc_dedup_fn(n_bits=1 << 14, k_hashes=5)
    state = FakeState()
    batch1 = pd.DataFrame(
        {"doc_id": [3, 1, 2, 4], "fingerprint": ["aa", "bb", "aa", "cc"]}
    )
    out1 = pd.concat(list(fn((0,), iter([batch1]), state)))
    # first occurrence by doc_id order wins: aa admitted as doc 1? no —
    # sorted by doc_id → doc 1 (bb), doc 2 (aa), doc 3 (aa dup), doc 4
    assert sorted(out1["doc_id"]) == [1, 2, 4]
    n, bloom = state.get
    assert n == 3 and any(bloom)
    # second micro-batch: all previously-seen content drops, new admits
    batch2 = pd.DataFrame({"doc_id": [5, 6], "fingerprint": ["cc", "dd"]})
    out2 = pd.concat(list(fn((0,), iter([batch2]), state)))
    assert sorted(out2["doc_id"]) == [6]
    assert state.get[0] == 4


def test_streaming_doc_dedup_end_to_end(spark, tmp_path):
    """File-streamed corpus in two arrival waves: content repeated
    across waves is admitted exactly once (state survives the
    micro-batch boundary); per-shard blooms keep state bounded."""
    import json

    from dolphinbeat_spark.streaming.state import streaming_doc_dedup

    src = tmp_path / "arrivals"
    src.mkdir()
    wave1 = [{"doc_id": i, "text": f"document number {i % 6}"} for i in range(10)]
    (src / "wave1.json").write_text("\n".join(json.dumps(d) for d in wave1))
    q_schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(q_schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    out_dir = str(tmp_path / "admitted")

    def run_wave():
        q = (
            streaming_doc_dedup(stream, n_shards=8, n_bits=1 << 14)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckp"))  # SAME ckp
            .start()
        )
        q.awaitTermination(120)

    run_wave()
    got1 = spark.read.parquet(out_dir).collect()
    # 6 distinct contents in wave 1
    assert len(got1) == 6
    assert len({r["fingerprint"] for r in got1}) == 6

    # wave 2 arrives: 4 repeats of wave-1 content + 2 new docs; the
    # resumed query (same checkpoint) admits only the genuinely new
    wave2 = [{"doc_id": 100 + i, "text": f"document number {i}"} for i in range(4)] + [
        {"doc_id": 200, "text": "fresh content A"},
        {"doc_id": 201, "text": "fresh content B"},
    ]
    (src / "wave2.json").write_text("\n".join(json.dumps(d) for d in wave2))
    run_wave()
    got2 = spark.read.parquet(out_dir).collect()
    new_ids = sorted(r["doc_id"] for r in got2)
    assert len(got2) == 8
    assert {200, 201} <= set(new_ids)
    assert not any(100 <= i < 200 for i in new_ids), "cross-wave dup admitted"


def test_streaming_near_dup_band_flags(spark, tmp_path):
    """Two arrival waves: a near-duplicate of a wave-1 doc (same text,
    so every band collides) is flagged on resume; unrelated docs admit.
    All of a doc's band flags land in its own micro-batch, so the
    per-batch admit aggregation composes in foreachBatch."""
    import json

    from dolphinbeat_spark.streaming.state import (
        near_dup_admitted,
        streaming_band_flags,
    )

    src = tmp_path / "arrivals"
    src.mkdir()
    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "an entirely different document about database replication logs",
    }
    (src / "w1.json").write_text("\n".join(
        json.dumps({"doc_id": i, "text": t}) for i, t in texts.items()))
    out_dir = str(tmp_path / "flags")

    def run_wave():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1").json(str(src))
        )
        q = (
            streaming_band_flags(stream, n_shards=8, n_bits=1 << 14)
            .writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckp"))
            .start()
        )
        q.awaitTermination(120)

    run_wave()
    flags1 = spark.read.parquet(out_dir)
    adm1 = {r["doc_id"]: r["admitted"] for r in near_dup_admitted(flags1).collect()}
    assert adm1 == {1: True, 2: True}

    # wave 2: doc 10 = exact near-dup of doc 1; doc 11 fresh
    (src / "w2.json").write_text("\n".join([
        json.dumps({"doc_id": 10, "text": texts[1]}),
        json.dumps({"doc_id": 11, "text": "completely novel content with many new tokens"}),
    ]))
    run_wave()
    flags_all = spark.read.parquet(out_dir)
    adm = {r["doc_id"]: r["admitted"]
           for r in near_dup_admitted(flags_all.filter("doc_id >= 10")).collect()}
    assert adm[10] is False, "near-dup of wave-1 doc must be flagged"
    assert adm[11] is True
    # every doc produced one flag per band
    n_bands = {r["doc_id"]: r["n_bands"]
               for r in near_dup_admitted(flags_all).collect()}
    assert set(n_bands.values()) == {4}


def test_streaming_protobuf_consumer_group_across_batches(spark, tmp_path):
    """Protobuf messages stream in as files; a fragment GROUP is split
    across two availableNow runs (second half of the files arrives
    after the first run finished). The stateful consumer must buffer
    the open group in GroupState and complete it on the next run —
    plus drop duplicated deliveries via the persisted seq watermark."""
    import os

    from dolphinbeat_spark.envelope import golden_sequences
    from dolphinbeat_spark.schema.registry import SchemaRegistry
    from dolphinbeat_spark.sinks import wire_protocol as wp
    from dolphinbeat_spark.streaming.state import streaming_protobuf_consumer

    reg = SchemaRegistry()
    reg.apply_ddl(
        "CREATE TABLE test.canal_test (id INT PRIMARY KEY, name VARCHAR(100), content BLOB)"
    )
    chunks = [
        wp.payload_chunk(
            wp.encode_operation(
                r,
                reg.get("test", "canal_test")
                if r["op_type"] in ("insert", "update", "delete")
                else None,
            )
        )
        for r in golden_sequences()
    ]
    # one big group, tiny fragments -> many messages per group
    msgs = wp.build_messages(
        chunks, base_seq=0, producer_id=1,
        max_payload_size=96, compression=wp.COMPRESSION_ZLIB,
    )
    assert len(msgs) >= 4
    msg_dir = tmp_path / "msgs"
    msg_dir.mkdir()
    out = str(tmp_path / "ops_out")

    def write_files(upto: int) -> None:
        for i, (seq, data) in enumerate(msgs[:upto]):
            f = msg_dir / f"{i:06d}.msg"
            if not f.exists():
                f.write_bytes(data)

    bin_schema = "path string, modificationTime timestamp, length bigint, content binary"

    def run_once() -> None:
        from pyspark.sql import functions as F

        files = (
            spark.readStream.format("binaryFile")
            .schema(bin_schema)
            .option("pathGlobFilter", "*.msg")
            .load(str(msg_dir))
        )
        shaped = files.select(
            F.lit(1).cast("bigint").alias("producer_id"),
            F.regexp_extract(F.col("path"), r"(\d+)\.msg$", 1).cast("bigint").alias("arrival"),
            F.col("content").alias("value"),
        )
        q = (
            streaming_protobuf_consumer(shaped)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    half = len(msgs) // 2
    write_files(half)  # first half only: group CANNOT complete
    run_once()
    n_first = (
        spark.read.parquet(out).count() if os.path.exists(out) and os.listdir(out) else 0
    )
    assert n_first == 0  # open group buffered in state, nothing emitted

    write_files(len(msgs))  # the rest arrives
    run_once()
    got = spark.read.parquet(out)
    ops = got.orderBy("end_seq", "op_index").collect()
    # chunks were encoded in raw fixture order (no sink sort here)
    expected = [o["op_type"] for o in golden_sequences()]
    assert [r["op_type"] for r in ops] == expected
    # positional Column lists came back as NAMED image maps (via the
    # embedded TableDef) — the apply_changes/typed_view input shape
    first_insert = next(r for r in ops if r["op_type"] == "insert")
    assert first_insert["after"]["id"] == "1" and first_insert["table"] == "canal_test"
    assert first_insert["after_null"]["content"] is False

    # duplicated delivery of everything: watermark in state drops it all
    run_once()
    assert spark.read.parquet(out).count() == len(expected)


def test_full_loop_protobuf_to_apply_changes(spark, tmp_path):
    """The complete reference pipeline as one flow: envelope ops →
    protobuf wire (zlib) → stateful streaming consume → named image
    maps → apply_changes current-state snapshot. Final state matches
    the golden sequence: id=1 updated, id=2 deleted, id=3 insert with
    NULL content."""
    from pyspark.sql import functions as F

    from dolphinbeat_spark.envelope import golden_sequences
    from dolphinbeat_spark.schema.registry import SchemaRegistry
    from dolphinbeat_spark.sinks import wire_protocol as wp
    from dolphinbeat_spark.sinks.apply_changes import apply_batch, read_snapshot
    from dolphinbeat_spark.sinks.ordered import decode_protobuf_messages

    reg = SchemaRegistry()
    reg.apply_ddl(
        "CREATE TABLE test.canal_test (id INT PRIMARY KEY, name VARCHAR(100), content BLOB)"
    )
    chunks = [
        wp.payload_chunk(
            wp.encode_operation(
                r,
                reg.get("test", "canal_test")
                if r["op_type"] in ("insert", "update", "delete")
                else None,
            )
        )
        for r in golden_sequences()
    ]
    msgs = wp.build_messages(chunks, base_seq=0, producer_id=1, ops_per_payload=6,
                             compression=wp.COMPRESSION_ZLIB)
    values = [bytearray(v) for _, v in msgs]
    decoded = decode_protobuf_messages(
        spark.createDataFrame([(v,) for v in values], "value binary")
    )
    env = decoded.filter(F.col("op_type").isin("insert", "update", "delete")).select(
        "op_type",
        F.lit("binlog.000001").alias("log_name"),
        F.col("log_pos"),
        "before", "before_null", "after", "after_null",
    )
    snap = str(tmp_path / "snapshot")
    apply_batch(spark, env, snap, key_cols=["id"], value_cols=["name", "content"])
    state = {r["id"]: r for r in read_snapshot(spark, snap).collect()}
    assert set(state) == {"1", "3"}  # id=2 deleted
    assert state["1"]["name"] == "a2"  # update applied
    assert state["3"]["name"] == "c" and state["3"]["content"] is None  # D12 null


def test_band_verify_unit_state_machine():
    """Verify-stage state machine direct: first marker owns the key;
    a genuine near-dup (matching signature) reports a high estimate; a
    SPURIOUS band collision (same band_key, mostly-different signature)
    reports a low estimate — the case the unverified OR-rule wrongly
    drops; a self-collision (one doc, two bands, same key) is NOT seen;
    state round-trips through the packed cache bytes."""
    import pandas as pd

    from dolphinbeat_spark.streaming.state import make_band_verify_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self.value = True, v

        @property
        def get(self):
            return self.value

    num_perm = 8
    fn = make_band_verify_fn(num_perm, n_bits=1 << 14, k_hashes=5)
    state = FakeState()
    sig_a = [10, 20, 30, 40, 50, 60, 70, 80]
    # doc 1: bands 0 and 2 share one key (self-collision), band 1 unique
    b1 = pd.DataFrame(
        {
            "doc_id": [1, 1, 1],
            "band": [0, 1, 2],
            "band_key": ["k_shared", "k_b1", "k_shared"],
            "sig": [sig_a, sig_a, sig_a],
        }
    )
    out1 = pd.concat(list(fn((0,), iter([b1]), state)))
    assert not out1["was_seen"].any(), "self-collision must not read as seen"

    # doc 2: near-dup of doc 1 (7/8 positions match) hits k_shared;
    # doc 3: spurious collision on k_b1 with an unrelated signature
    sig_near = [10, 20, 30, 40, 50, 60, 70, 999]
    sig_far = [1, 2, 3, 4, 5, 6, 7, 80]
    b2 = pd.DataFrame(
        {
            "doc_id": [2, 3],
            "band": [0, 1],
            "band_key": ["k_shared", "k_b1"],
            "sig": [sig_near, sig_far],
        }
    )
    out2 = pd.concat(list(fn((0,), iter([b2]), state))).set_index("doc_id")
    assert bool(out2.loc[2, "was_seen"]) and out2.loc[2, "est_jaccard"] == 7 / 8
    assert bool(out2.loc[3, "was_seen"]) and out2.loc[3, "est_jaccard"] == 1 / 8
    # cache owner stays the FIRST marker: doc 4 re-hitting k_shared
    # compares against doc 1's signature, not doc 2's
    b3 = pd.DataFrame(
        {"doc_id": [4], "band": [0], "band_key": ["k_shared"], "sig": [sig_a]}
    )
    out3 = pd.concat(list(fn((0,), iter([b3]), state)))
    assert out3["est_jaccard"].iloc[0] == 1.0


def test_streaming_near_dup_verified_end_to_end(spark, tmp_path):
    """The verified wrapper under real streaming machinery across two
    arrival waves: an exact near-dup of a wave-1 doc is dropped with
    estimate 1.0; novel docs admit; the unverified OR-rule decision
    (any_collision) rides along."""
    import json

    from dolphinbeat_spark.streaming.state import (
        near_dup_admitted_verified,
        streaming_band_flags_verified,
    )

    src = tmp_path / "arrivals"
    src.mkdir()
    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "an entirely different document about database replication logs",
    }
    (src / "w1.json").write_text("\n".join(
        json.dumps({"doc_id": i, "text": t}) for i, t in texts.items()))
    out_dir = str(tmp_path / "flags")

    def run_wave():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1").json(str(src))
        )
        q = (
            streaming_band_flags_verified(stream, n_shards=8, n_bits=1 << 14)
            .writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckp"))
            .start()
        )
        q.awaitTermination(120)

    run_wave()
    dec1 = {r["doc_id"]: r for r in
            near_dup_admitted_verified(spark.read.parquet(out_dir)).collect()}
    assert dec1[1]["admitted"] and dec1[2]["admitted"]

    (src / "w2.json").write_text("\n".join([
        json.dumps({"doc_id": 10, "text": texts[1]}),
        json.dumps({"doc_id": 11, "text": "completely novel content with many new tokens"}),
    ]))
    run_wave()
    flags = spark.read.parquet(out_dir)
    dec = {r["doc_id"]: r for r in
           near_dup_admitted_verified(flags.filter("doc_id >= 10")).collect()}
    assert dec[10]["admitted"] is False and dec[10]["any_collision"] is True
    assert dec[11]["admitted"] is True and dec[11]["any_collision"] is False
    # the exact copy's collisions verify at estimate 1.0 on every band
    ests = [r["est_jaccard"] for r in flags.filter("doc_id = 10").collect()]
    assert ests and all(e == 1.0 for e in ests)


def test_band_verify_cache_eviction_stays_conservative():
    """FIFO eviction at cache_cap: a collision with an EVICTED key's
    owner signature reports est_jaccard NULL — the conservative
    unknowable case (counts as dup downstream), never a wrong number."""
    import pandas as pd

    from dolphinbeat_spark.streaming.state import make_band_verify_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self.value = True, v

        @property
        def get(self):
            return self.value

    fn = make_band_verify_fn(num_perm=4, n_bits=1 << 14, k_hashes=5, cache_cap=2)
    state = FakeState()
    sig = [1, 2, 3, 4]
    b1 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "band": [0, 0, 0],
            "band_key": ["k1", "k2", "k3"],  # k1 evicted when k3 lands
            "sig": [sig, sig, sig],
        }
    )
    list(fn((0,), iter([b1]), state))
    n_marked, _bloom, cache_bytes = state.get
    assert n_marked == 3
    # cap 2: only the 2 newest records survive in the packed cache
    fn2 = make_band_verify_fn(num_perm=4, n_bits=1 << 14, k_hashes=5, cache_cap=2)
    b2 = pd.DataFrame(
        {"doc_id": [9, 10], "band": [0, 0], "band_key": ["k1", "k3"], "sig": [sig, sig]}
    )
    out = pd.concat(list(fn2((0,), iter([b2]), state))).set_index("doc_id")
    # k1 was evicted: bloom still remembers it (seen), owner unknowable
    assert bool(out.loc[9, "was_seen"]) and pd.isna(out.loc[9, "est_jaccard"])
    # k3 survived: exact estimate against its stored owner
    assert bool(out.loc[10, "was_seen"]) and out.loc[10, "est_jaccard"] == 1.0
