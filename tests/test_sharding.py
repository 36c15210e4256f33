"""Token-budget sharding: running total correctness vs a driver-side
prefix sum, shard packing semantics, and the no-global-sort plan."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from duo_spark.operators.sharding import pack_token_shards, with_running_total


def _fixture(spark, n=500, seed=11):
    rng = random.Random(seed)
    rows = [(i, rng.randint(1, 400)) for i in range(1, n + 1)]
    # shuffled input: the operator must order by id itself
    rng.shuffle(rows)
    return rows, spark.createDataFrame(rows, "doc_id long, n_tokens long")


def test_running_total_matches_prefix_sum(spark):
    rows, df = _fixture(spark)
    got = {
        r.doc_id: r.running_total
        for r in with_running_total(df, "doc_id", "n_tokens").collect()
    }
    acc = 0
    for i, t in sorted(rows):
        acc += t
        assert got[i] == acc
    assert len(got) == len(rows)


def test_running_total_no_single_partition_window(spark):
    _, df = _fixture(spark, n=50)
    plan = with_running_total(df, "doc_id", "n_tokens")._jdf.queryExecution().executedPlan().toString()
    # the window must be partitioned (by _pid), never a global orderBy-only window
    assert "Window" in plan
    assert "partitionBy" not in plan or "_pid" in plan
    assert "SinglePartition" not in plan


def test_pack_token_shards_budget(spark):
    rows, df = _fixture(spark)
    budget = 1000
    got = pack_token_shards(df, budget).collect()
    assert len(got) == len(rows)
    # reference next-fit-by-offset
    acc = 0
    want = {}
    for i, t in sorted(rows):
        want[i] = acc // budget
        acc += t
    assert {r.doc_id: r.shard_id for r in got} == want
    # shards are contiguous in id order and token-bounded within one doc
    by_shard: dict[int, int] = {}
    for r in got:
        by_shard[r.shard_id] = by_shard.get(r.shard_id, 0) + r.n_tokens
    max_doc = max(t for _, t in rows)
    for s, tot in by_shard.items():
        if s != max(by_shard):  # last shard may be short
            assert tot <= budget + max_doc


def test_pack_empty(spark):
    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_token_shards(df, 100).count() == 0


def test_salted_join_matches_plain_join_and_balances(spark):
    """salted_join must be row-identical to the plain join on a
    pathologically skewed key (one key = 90% of rows), while the
    salted shuffle key spreads the hot key across all salt buckets."""
    from duo_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(0 if i < 1800 else i % 10, i) for i in range(2000)], "k int, payload long"
    )
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(10)], "k int, name string")
    plain = sorted((r.k, r.payload, r.name) for r in big.join(small, "k").collect())
    salted = sorted((r.k, r.payload, r.name) for r in salted_join(big, small, "k", salt=8).collect())
    assert salted == plain
    # the hot key's rows occupy every salt bucket (fanning really happens)
    from pyspark.sql import functions as F
    buckets = (
        big.withColumn("_salt", (F.rand(42) * 8).cast("int"))
        .filter(F.col("k") == 0)
        .groupBy("_salt").count().collect()
    )
    assert len(buckets) == 8
    assert max(r["count"] for r in buckets) < 1800 * 0.35  # no bucket re-concentrates

    # left join keeps unmatched big rows exactly once
    small_missing = small.filter(F.col("k") < 5)
    left_plain = sorted(
        (r.k, r.payload, r.name) for r in big.join(small_missing, "k", "left").collect()
    )
    left_salted = sorted(
        (r.k, r.payload, r.name)
        for r in salted_join(big, small_missing, "k", salt=4, how="left").collect()
    )
    assert left_salted == left_plain


# ---------------------------------------------------------------------
# pack_sequences (next-fit bin-close packing)
# ---------------------------------------------------------------------

def test_pack_sequences_capacity_and_order(spark):
    """No sequence exceeds capacity unless it holds a single oversized
    doc; seq indexes are dense per shard; packing follows doc_id order."""
    from duo_spark.operators.sharding import pack_sequences

    import random
    rng = random.Random(5)
    rows = [(i, rng.randint(10, 300)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, capacity=256, num_shards=4).collect()
    assert len(out) == 400
    toks = dict(rows)
    by_bin: dict = {}
    for r in out:
        assert r.shard == r.doc_id % 4
        by_bin.setdefault((r.shard, r.seq), []).append(r.doc_id)
    for (shard, seq), ids in sorted(by_bin.items()):
        fill = sum(toks[i] for i in ids)
        assert fill <= 256 or len(ids) == 1  # oversized doc sits alone
        # next-fit replay: bins per shard are contiguous doc_id runs
        prev = by_bin.get((shard, seq - 1))
        if prev is not None:
            assert max(prev) < min(ids)
    # dense bin ids from 0
    for shard in range(4):
        seqs = sorted({s for (sh, s) in by_bin if sh == shard})
        assert seqs == list(range(len(seqs)))


def test_pack_sequences_matches_serial_replay(spark):
    """Distributed result == a serial next-fit pass per shard."""
    from duo_spark.operators.sharding import pack_sequences

    rows = [(i, (i * 37) % 200 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(7)
    got = {r.doc_id: (r.shard, r.seq, r.seq_fill)
           for r in pack_sequences(df, capacity=100, num_shards=3).collect()}
    for shard in range(3):
        seq = fill = 0
        first = True
        for i, t in [r for r in rows if r[0] % 3 == shard]:
            if not first and fill + t > 100:
                seq, fill = seq + 1, 0
            fill += t
            first = False
            assert got[i] == (shard, seq, fill)


def test_pack_sequences_validates_params(spark):
    from duo_spark.operators.sharding import pack_sequences

    df = spark.createDataFrame([(1, 1)], "doc_id long, n_tokens long")
    import pytest
    with pytest.raises(ValueError):
        pack_sequences(df, capacity=0, num_shards=2)
    with pytest.raises(ValueError):
        pack_sequences(df, capacity=10, num_shards=0)


# ---------------------------------------------------------------------
# materialize.scope — service retention hygiene
# ---------------------------------------------------------------------

def test_checkpoint_scope_releases_blocks(spark, persistent_ids):
    """Blocks checkpointed inside the scope are gone after exit;
    pre-existing blocks survive; results materialized inside stay
    correct."""
    from duo_spark.operators import dedup
    from duo_spark.operators.materialize import checkpoint, release, scope

    outer = checkpoint(spark.range(10))
    base = persistent_ids()
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3}") for i in range(60)],
        "doc_id long, text string")
    with scope():
        pairs = dedup.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
        got = pairs.count()
        # compare only ids CREATED inside the scope: earlier tests'
        # non-blocking releases can asynchronously drop ids out of
        # `base` between snapshots, so a strict-superset check on the
        # full set is racy (flaked in the round-4 full-suite run)
        created = persistent_ids() - base
        assert created                            # something was pinned
    assert not (persistent_ids() & created)       # …and released
    assert outer.count() == 10                    # pre-existing block intact
    assert got > 0
    release(outer)


# ---------------------------------------------------------------------
# keyed_row_number / ntile_by_key (chunked per-key ranking)
# ---------------------------------------------------------------------

def test_keyed_row_number_matches_window(spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from duo_spark.operators.sharding import keyed_row_number

    import random
    rng = random.Random(13)
    rows = [(f"k{rng.randint(0, 2)}", rng.random(), i) for i in range(500)]
    df = spark.createDataFrame(rows, "key string, v double, id long")
    want = {(r.key, r.id): r.rn for r in df.withColumn(
        "rn", F.row_number().over(W.partitionBy("key").orderBy("v", "id"))).collect()}
    for n in (3, 8, 33):
        got = {(r.key, r.id): r.rn for r in
               keyed_row_number(df, "key", [F.col("v"), F.col("id")],
                                num_partitions=n).collect()}
        assert got == want, n


def test_ntile_by_key_matches_sql_ntile(spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from duo_spark.operators.sharding import ntile_by_key

    import random
    rng = random.Random(29)
    # uneven group sizes force the fat-bucket rule
    rows = [(f"k{rng.randint(0, 3)}", rng.random(), i) for i in range(457)]
    df = spark.createDataFrame(rows, "key string, v double, id long")
    for tiles in (1, 3, 4, 7):
        want = {(r.key, r.id): r.t for r in df.withColumn(
            "t", F.ntile(tiles).over(W.partitionBy("key").orderBy("v", "id"))).collect()}
        got = {(r.key, r.id): r.tile for r in
               ntile_by_key(df, "key", [F.col("v"), F.col("id")], tiles,
                            num_partitions=9).collect()}
        assert got == want, tiles
    import pytest as _pytest
    with _pytest.raises(ValueError, match="tiles"):
        ntile_by_key(df, "key", [F.col("v")], 0)
