"""Unit tests for the training-data operators (dedup, similarity,
streaming) beyond the oracle-backed registry gate."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different text about spark engines and parquet files"),
        (5, "another unrelated document mentioning window functions only"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r.keeper_id: r.n_copies for r in dedup.exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1] == 2  # docs 1 and 2 collapse
    assert out[3] == 1 and out[4] == 1 and out[5] == 1
    assert 2 not in out


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert 0.3 <= pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_minhash_lsh_finds_high_jaccard_pairs(docs):
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    # identical pair must always collide in every band
    assert (1, 2) in got
    # LSH output is a subset of the exact high-jaccard pairs
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    }
    assert got <= exact


def test_simhash_similarity_ordering(docs):
    codes = {r.doc: r.simhash for r in dedup.simhash_codes(docs, "doc_id", "text").collect()}
    assert codes[1] == codes[2]  # identical text → identical code

    def hamming(a, b):
        return bin(a ^ b).count("1")

    # near-dup pair closer in hamming space than unrelated pair
    assert hamming(codes[1], codes[3]) < hamming(codes[1], codes[4])


def test_similarity_topk_self_excluded(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),  # opposite of 1
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.brute_force_topk(emb, emb.filter("vec_id = 1"), k=3).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rnk)]
    assert order == [2, 3, 4]
    assert all(r.neighbor_id != 1 for r in out)


def test_lsh_bucketed_recall(spark):
    import random

    rng = random.Random(0)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(2)]  # 4 buckets
    queries = emb.filter("vec_id < 5")
    approx = similarity.lsh_bucketed_topk(emb, queries, planes, k=3).collect()
    # every returned neighbor shares the query's bucket → sanity: nonempty,
    # ranks contiguous from 1, no self-matches
    assert approx
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
    for q, rs in by_q.items():
        assert sorted(x.rnk for x in rs) == list(range(1, len(rs) + 1))


def test_connected_keepers_and_apply(spark):
    # clusters: {1,2,3} via chain 1-2, 2-3 ; {7,9}; 5 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"]
    )
    labels = {r.doc: r.keeper for r in dedup.connected_keepers(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame([(i, f"d{i}") for i in (1, 2, 3, 5, 7, 9)], ["doc_id", "text"])
    kept = sorted(r.doc_id for r in dedup.apply_dedup(docs, "doc_id", pairs).collect())
    assert kept == [1, 5, 7]


def test_end_to_end_minhash_dedup(docs):
    """Full near-dup pipeline: LSH pairs -> clusters -> filtered corpus."""
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3)
    kept = sorted(r.doc_id for r in dedup.apply_dedup(docs, "doc_id", pairs).collect())
    # docs 1,2 identical (and 3 near-dup of 1): cluster keeps min id 1
    assert 1 in kept and 2 not in kept
    assert 4 in kept and 5 in kept


def test_salted_aggregate_matches_plain(spark):
    from f1_datalakehouse_pipeline_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [(i % 3, i, i * 2) for i in range(100)], ["k", "v", "v2"]
    ).select("k", F.col("v").cast("long").alias("v"))
    out = {r.k: (r.total, r.n) for r in salted_aggregate(
        df.withColumnRenamed("v", "total").withColumn("n", F.lit(1)),
        ["k"], {"total": "sum", "n": "count"}, n_salt=4,
    ).collect()}
    expected = {
        r.k: (r.total, r.n)
        for r in df.groupBy("k").agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")).collect()
    }
    assert out == expected


def test_df_cap_drops_boilerplate_pairs(spark):
    rows = [
        (i, f"BOILER PLATE HEADER unique{i} words{i} here{i}") for i in range(1, 7)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # without a cap, the shared 1-gram shingles make every pair a candidate
    uncapped = dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=1, threshold=0.01)
    assert uncapped.count() == 15  # all C(6,2) pairs co-occur
    capped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", k=1, threshold=0.01, max_doc_frequency=3
    )
    assert capped.count() == 0  # only boilerplate co-occurs → all pruned


def test_connected_keepers_long_chain_pointer_jumping(spark):
    """A 40-hop path graph resolves to one keeper: pointer jumping reaches
    the fixed point in O(log diameter) rounds, not O(diameter)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["doc_a", "doc_b"]
    )
    labels = {r.doc: r.keeper for r in dedup.connected_keepers(pairs).collect()}
    assert len(labels) == 41 and set(labels.values()) == {0}


def _bfs_keepers(edges):
    """Reference cluster resolution: a breadth-first search from each
    unvisited node, in ascending id order, labels that node's whole
    component with it — the component's minimum id."""
    from collections import deque

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    keeper = {}
    for start in sorted(adj):
        if start in keeper:
            continue
        keeper[start] = start
        queue = deque([start])
        while queue:
            for v in adj[queue.popleft()]:
                if v not in keeper:
                    keeper[v] = start
                    queue.append(v)
    return keeper


def _seeded_pair_graph(seed):
    """Several components of each shape on scattered ids: stars with the
    centre on either side of each edge, long chains laid over shuffled ids
    (so the minimum sits mid-chain), random trees with extra cycle edges,
    plus repeated and reversed copies of some edges."""
    import random

    rng = random.Random(seed)
    ids = iter(rng.sample(range(1, 2**40), 2000))
    edges = []
    for _ in range(3):
        centre = next(ids)
        for leaf in [next(ids) for _ in range(rng.randint(2, 30))]:
            edges.append((centre, leaf) if rng.random() < 0.5 else (leaf, centre))
    for _ in range(2):
        chain = [next(ids) for _ in range(rng.randint(20, 120))]
        edges += list(zip(chain, chain[1:]))
    for _ in range(3):
        nodes = [next(ids)]
        for _ in range(rng.randint(1, 40)):
            nodes.append(next(ids))
            edges.append((rng.choice(nodes[:-1]), nodes[-1]))
        edges += [tuple(rng.sample(nodes, 2)) for _ in range(len(nodes) // 4)]
    copies = rng.sample(edges, len(edges) // 5)
    edges += copies + [(b, a) for a, b in rng.sample(edges, len(edges) // 5)]
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("seed", [None, 0, 1, 2, 3])
def test_connected_keepers_matches_bfs_reference(spark, seed):
    """The driver-side resolution labels every doc with the minimum id of
    its component, exactly as an independent BFS does, on seeded graphs
    mixing stars, long chains, cyclic trees, duplicate and reversed edges
    (and on no pairs at all)."""
    edges = [] if seed is None else _seeded_pair_graph(seed)
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    labels = {r.doc: r.keeper for r in dedup.connected_keepers(pairs).collect()}
    assert labels == _bfs_keepers(edges)


def test_connected_keepers_refuses_oversized_pair_list(spark, monkeypatch):
    """The pair collect is bounded: more than MAX_NEAR_DUP_EDGES pairs fail
    loudly, naming the count, instead of being truncated or collected
    whole to the driver."""
    monkeypatch.setattr(dedup, "MAX_NEAR_DUP_EDGES", 2)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"])
    with pytest.raises(ValueError, match=r"more than 2 rows \(3 collected\)"):
        dedup.connected_keepers(pairs)


def test_connected_keepers_result_spans_at_most_default_parallelism(spark):
    """The (doc, keeper) labels come back on at most defaultParallelism
    partitions however many Arrow batches carried them, so the anti-join in
    apply_dedup never reads one tiny partition per batch (7M docs at the
    default batch size made 700). Lowering the batch size and the
    local-relation threshold takes 2,000 docs down the same many-batch
    path."""
    confs = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10",
        "spark.sql.execution.arrow.localRelationThreshold": "0",
    }
    saved = {key: spark.conf.get(key) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        pairs = spark.createDataFrame(
            [(2 * i, 2 * i + 1) for i in range(1000)], "doc_a long, doc_b long"
        )
        labels = dedup.connected_keepers(pairs)
        assert labels.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
        assert {(r.doc, r.keeper) for r in labels.collect()} == {
            (d, d - d % 2) for d in range(2000)
        }
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)


def test_minhash_lsh_df_cap_survives_boilerplate(spark):
    """A shared boilerplate header must not make unrelated docs near-dups:
    with max_doc_frequency the hot shingles drop out of signatures AND
    verification, so only genuinely-similar bodies pair up."""
    bp = "permission is hereby granted free of charge to any person obtaining a copy of this software"
    rows = []
    for i in range(40):
        body = " ".join(f"w{i}t{j}" for j in range(30))
        rows.append((i, f"{bp} {body}"))
    # 100/101 share a body one token apart -> true near-dup pair
    shared = " ".join(f"s{j}" for j in range(30))
    rows.append((100, f"{bp} {shared}"))
    rows.append((101, f"{bp} {shared} extra"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, max_doc_frequency=5
    ).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (100, 101) in got
    # no boilerplate-only pairings among the 40 unrelated docs
    assert all(a == 100 or b == 101 for a, b in got), got


def test_sniff_mime_real_magics(spark):
    from f1_datalakehouse_pipeline_spark.operators.multimodal import sniff_mime

    payloads = [
        (1, b"\x89PNG\r\n\x1a\n....", "image/png"),
        (2, b"\xff\xd8\xff\xe0JFIF", "image/jpeg"),
        (3, b"GIF89a......", "image/gif"),
        (4, b"RIFF....WAVE", "audio/wav"),
        (5, b"fLaC\x00\x00\x00\x22", "audio/flac"),
        (6, b"%PDF-1.7 ...", "application/pdf"),
        (7, b"\x00\x00\x00\x18ftypmp42", "video/mp4"),
        (8, b"random bytes", "application/octet-stream"),
        (9, b"", "application/octet-stream"),
    ]
    df = spark.createDataFrame([(i, p) for i, p, _ in payloads], ["media_id", "payload"])
    got = {r.media_id: r.mime for r in df.select("media_id", sniff_mime(F.col("payload")).alias("mime")).collect()}
    for i, _, want in payloads:
        assert got[i] == want, (i, got[i], want)


class _FakeGroupState:
    """Minimal GroupState double for exercising per-key handler logic
    (including the hasTimedOut eviction path, which a real availableNow
    drain cannot reach deterministically)."""

    def __init__(self, value=None, has_timed_out=False):
        self._value = value
        self.hasTimedOut = has_timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        if self._value is None:
            raise ValueError("state does not exist")
        return self._value

    def update(self, v):
        self._value = tuple(v)
        self.removed = False

    def remove(self):
        self._value = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_contamination_check_containment(spark):
    """Benchmark-leak detection: an exact copy scores containment 1.0, a
    partial overlap scores |shared|/|test grams|, disjoint docs never pair;
    the report picks the worst train match deterministically."""
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    train = spark.createDataFrame(
        [(100, base), (101, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame(
        [
            (1, base),                                        # exact leak
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 z1 z2 z3 z4"),       # 1 of 5 grams shared
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),    # disjoint
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.contamination_pairs(
        train, test, "doc_id", "text", k=8, min_containment=0.1
    )
    got = {(r.test_id, r.train_id): r for r in pairs.collect()}
    assert set(got) == {(1, 100), (2, 100)}
    assert got[(1, 100)].containment == 1.0 and got[(1, 100)].test_ngrams == 5
    assert got[(2, 100)].containment == 0.2 and got[(2, 100)].n_shared == 1

    report = {r.test_id: r for r in dedup.contamination_report(pairs).collect()}
    assert report[1].max_containment == 1.0 and report[1].worst_train_id == 100
    assert 3 not in report

    # the default threshold hides the weak partial match
    strict = dedup.contamination_pairs(train, test, "doc_id", "text", k=8)
    assert {r.test_id for r in strict.collect()} == {1}

    # boilerplate cap drops a gram shared by >N train docs before the join
    many = spark.createDataFrame(
        [(200 + i, base) for i in range(5)], ["doc_id", "text"]
    )
    capped = dedup.contamination_pairs(
        many, test, "doc_id", "text", k=8, max_doc_frequency=3
    )
    assert capped.count() == 0  # every gram of `base` is train-hot


def test_exactly_once_batch_writer_skips_replayed_ids(spark, tmp_path):
    """A replayed batch id (foreachBatch at-least-once redelivery) must be
    skipped; new ids run; a FAILED upsert leaves no mark so the retry runs."""
    from f1_datalakehouse_pipeline_spark.streaming.incremental import (
        exactly_once_batch_writer,
    )

    calls = []

    def upsert(df, batch_id):
        if batch_id == 99:
            raise RuntimeError("boom")
        calls.append(batch_id)

    wrapped = exactly_once_batch_writer(upsert, str(tmp_path / "ledger"))
    df = spark.range(3)
    wrapped(df, 0)
    wrapped(df, 0)  # replay: skipped
    wrapped(df, 1)
    assert calls == [0, 1]

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        wrapped(df, 99)
    calls.clear()

    def upsert_ok(df, batch_id):
        calls.append(batch_id)

    retry = exactly_once_batch_writer(upsert_ok, str(tmp_path / "ledger"))
    retry(df, 2)    # failed-then-retried frontier batch: no mark -> runs
    retry(df, 1)    # completed batch still skipped across writer instances
    assert calls == [2]


def test_exactly_once_ledger_is_pruned_to_a_bounded_window(spark, tmp_path):
    """ADVICE r3: the ledger must not grow one file per micro-batch forever.
    Only batches near the committed frontier can ever replay, so marks far
    behind it are pruned; the frontier's trailing window still dedups."""
    import os

    from f1_datalakehouse_pipeline_spark.streaming.incremental import (
        exactly_once_batch_writer,
    )

    calls = []
    ledger = str(tmp_path / "ledger")
    wrapped = exactly_once_batch_writer(lambda df, b: calls.append(b), ledger)
    df = spark.range(1)
    for b in range(60):
        wrapped(df, b)
    marks = [f for f in os.listdir(ledger) if f.endswith(".done")]
    assert len(marks) <= 20          # bounded, not 60
    wrapped(df, 59)                  # frontier replay still skipped
    wrapped(df, 50)                  # trailing-window replay still skipped
    assert calls == list(range(60))


def test_novelty_pairs_matches_cross_side_self_join(docs):
    """Incremental (index-probe) novelty detection must equal the batch
    self-join restricted to cross-side pairs: same candidates, same exact
    Jaccard values."""
    history = docs.filter(F.col("doc_id") <= 3)
    batch = docs.filter(F.col("doc_id") >= 4).unionByName(
        docs.filter(F.col("doc_id") == 1).select(
            (F.col("doc_id") + 100).alias("doc_id"), "text"
        )
    )  # doc 101 = exact copy of history doc 1
    got = {
        (r.doc_new, r.doc_hist): r.jaccard
        for r in dedup.incremental_neardup_pairs(
            history, batch, "doc_id", "text", threshold=0.3
        ).collect()
    }
    # the planted copy must hit both history copies (docs 1 and 2) and the
    # near dup (doc 3) is admitted or not per the LSH bands — but whatever
    # is reported must match the self-join over the union corpus
    assert got[(101, 1)] == 1.0 and got[(101, 2)] == 1.0
    union = history.unionByName(batch)
    self_join = {
        (max(r.doc_a, r.doc_b), min(r.doc_a, r.doc_b)): r.jaccard
        for r in dedup.minhash_lsh_pairs(
            union, "doc_id", "text", threshold=0.3
        ).collect()
        # keep only cross-side pairs (history ids ≤ 3 < batch ids)
        if min(r.doc_a, r.doc_b) <= 3 < max(r.doc_a, r.doc_b)
    }
    assert got == self_join


def test_minhash_index_parquet_roundtrip(docs, spark, tmp_path):
    """The history index persists to parquet (band-partitioned) and probing
    the reloaded index gives byte-identical results to the in-memory one —
    the amortization contract of the incremental path."""
    history = docs.filter(F.col("doc_id") <= 3)
    batch = docs.filter(F.col("doc_id") >= 4).unionByName(
        docs.filter(F.col("doc_id") == 2).select(
            (F.col("doc_id") + 200).alias("doc_id"), "text"
        )
    )
    bands_df, sh_df, sizes_df = dedup.minhash_band_index(history, "doc_id", "text")
    base = str(tmp_path / "mh_index")
    bands_df.write.partitionBy("band").parquet(base + "/bands")
    sh_df.write.parquet(base + "/shingles")
    sizes_df.write.parquet(base + "/sizes")
    reloaded = (
        spark.read.parquet(base + "/bands"),
        spark.read.parquet(base + "/shingles"),
        spark.read.parquet(base + "/sizes"),
    )
    direct = sorted(
        (r.doc_new, r.doc_hist, r.jaccard)
        for r in dedup.novelty_pairs(
            batch, (bands_df, sh_df, sizes_df), "doc_id", "text", threshold=0.3
        ).collect()
    )
    from_disk = sorted(
        (r.doc_new, r.doc_hist, r.jaccard)
        for r in dedup.novelty_pairs(
            batch, reloaded, "doc_id", "text", threshold=0.3
        ).collect()
    )
    assert direct == from_disk and (202, 2, 1.0) in direct


def test_filter_novel_admits_only_unseen(docs):
    history = docs.filter(F.col("doc_id") <= 3)
    batch = docs.filter(F.col("doc_id") >= 4).unionByName(
        docs.filter(F.col("doc_id") == 1).select(
            (F.col("doc_id") + 100).alias("doc_id"), "text"
        )
    )
    pairs = dedup.incremental_neardup_pairs(
        history, batch, "doc_id", "text", threshold=0.3
    )
    novel = {r.doc_id for r in dedup.filter_novel(batch, pairs, "doc_id").collect()}
    assert 101 not in novel  # the replayed duplicate is rejected
    assert {4, 5} <= novel  # genuinely new docs are admitted


def test_repetition_stats_edges(spark):
    from f1_datalakehouse_pipeline_spark.operators.textstats import repetition_stats

    rows = [
        (1, "spam spam spam spam"),            # one bigram stamped 3×
        (2, "all tokens here are distinct"),   # no repetition
        (3, "one"),                            # <2 tokens → no bigrams
        (4, ""),                               # empty
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert out[1].top_bigram == "spam spam" and out[1].top_bigram_count == 3
    assert out[1].top_bigram_fraction == 1.0
    assert out[1].dup_token_fraction == 0.75  # 4 tokens, 1 distinct
    assert out[2].dup_token_fraction == 0.0 and out[2].top_bigram_count == 1
    assert out[3].n_tokens == 1 and out[3].top_bigram_count == 0
    assert out[3].top_bigram_fraction == 0.0 and out[3].top_bigram is None
    assert out[4].n_tokens == 0 and out[4].dup_token_fraction == 0.0


def test_pii_scrub_order_and_counts(spark):
    from f1_datalakehouse_pipeline_spark.functions import pii

    rows = [
        (1, "mail user@1.2.3.4 or bob@corp.io, call 12-345-678-9012 from 10.0.0.1"),
        (2, "no identifiers here"),
        (3, "version 1.2.3.4000 is not an ip boundary-wise? 999.999.999.999 is"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = {
        r.id: r
        for r in df.select(
            "id",
            pii.scrub_pii(F.col("t")).alias("s"),
            pii.count_matches(F.col("t"), pii.EMAIL_RE).alias("ne"),
            pii.count_matches(F.col("t"), pii.PHONE_RE).alias("np"),
            pii.count_matches(F.col("t"), pii.IPV4_RE).alias("ni"),
        ).collect()
    }
    # numeric-host address is not a strict-RE email; its IP is still masked
    assert out[1].s == "mail user@<IP> or <EMAIL>, call <PHONE> from <IP>"
    assert (out[1].ne, out[1].np, out[1].ni) == (1, 1, 2)
    assert out[2].s == "no identifiers here" and out[2].ne == 0
    # the documented pattern scope: \b is a digit boundary, so 1.2.3.4000
    # matches its first 3+3-digit prefix and 999.* matches too — the scrub
    # over-redacts rather than leaks (the conservative direction)
    assert "<IP>" in out[3].s


def test_pseudonymize_stable_and_salted(spark):
    from f1_datalakehouse_pipeline_spark.functions import pii

    df = spark.createDataFrame([(1, "Alice"), (2, "Alice"), (3, "Bob")], ["id", "n"])
    out = df.select(
        "id",
        pii.pseudonymize(F.col("n"), "s1").alias("a"),
        pii.pseudonymize(F.col("n"), "s2").alias("b"),
    ).collect()
    tok = {r.id: (r.a, r.b) for r in out}
    assert tok[1][0] == tok[2][0]        # same value, same salt → same token
    assert tok[1][0] != tok[3][0]        # different value → different token
    assert tok[1][0] != tok[1][1]        # salt rotation breaks linkage
    assert len(tok[1][0]) == 12


def test_chunk_documents_coverage_and_edges(spark):
    from f1_datalakehouse_pipeline_spark.operators.textstats import chunk_documents

    long_text = " ".join(f"w{i}" for i in range(100))
    rows = [
        (1, long_text),                       # 100 tokens → 4 chunks @ 40/10
        (2, " ".join(f"x{i}" for i in range(40))),  # exactly one chunk
        (3, "a b"),                           # shorter than one chunk
        (4, ""),                              # empty → one empty chunk
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=40, overlap_tokens=10)
    rowsd = {}
    for r in out.collect():
        rowsd.setdefault(r.doc_id, []).append(r)
    # doc 1: stride 30 → chunk starts 1, 31, 61; the third reaches token 100
    c1 = sorted(rowsd[1], key=lambda r: r.chunk_idx)
    assert [r.n_chunk_tokens for r in c1] == [40, 40, 40]
    # overlap: each chunk re-reads the previous chunk's last 10 tokens
    assert c1[1].chunk_text.split()[:10] == c1[0].chunk_text.split()[-10:]
    # full reconstruction: stitching chunks (dropping overlaps) = original
    stitched = c1[0].chunk_text.split()
    for c in c1[1:]:
        stitched += c.chunk_text.split()[10:]
    assert stitched == long_text.split()
    assert [r.n_chunk_tokens for r in rowsd[2]] == [40]
    assert [r.n_chunk_tokens for r in rowsd[3]] == [2]
    assert rowsd[4][0].chunk_text == "" and rowsd[4][0].n_chunk_tokens == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=10, overlap_tokens=10)


def test_profile_columns_nulls_and_approx(spark):
    from f1_datalakehouse_pipeline_spark.quality import profile_columns

    rows = [(i, None if i % 4 == 0 else f"v{i % 10}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["k", "v"])
    exact = {r.column: r for r in profile_columns(df, ["k", "v"], approx=False).collect()}
    assert exact["k"].n_rows == 1000 and exact["k"].n_null == 0
    assert exact["k"].n_distinct == 1000
    assert (exact["k"].min_value, exact["k"].max_value) == ("0", "999")
    assert exact["v"].n_null == 250 and exact["v"].n_distinct == 10
    # HLL mode: same nulls/min/max, distinct within standard sketch error
    approx = {r.column: r for r in profile_columns(df, ["k", "v"]).collect()}
    assert approx["v"].n_null == 250
    assert abs(approx["k"].n_distinct - 1000) / 1000 < 0.1


def test_shuffle_assignments_permutation_properties(spark):
    from f1_datalakehouse_pipeline_spark.operators.util import shuffle_assignments

    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    out = shuffle_assignments(df, "doc_id", 8, "seed-a").collect()
    # a true permutation: every row exactly once, positions contiguous per shard
    assert len(out) == 500 and len({r.doc_id for r in out}) == 500
    by_shard: dict[int, list] = {}
    for r in out:
        assert 0 <= r.shard_id < 8
        by_shard.setdefault(r.shard_id, []).append(r.pos_in_shard)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic: same seed → identical assignment
    again = shuffle_assignments(df, "doc_id", 8, "seed-a").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # seed bump → a different permutation (epoch reshuffle)
    other = shuffle_assignments(df, "doc_id", 8, "seed-b").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))
    # not the identity layout: in-shard order differs from id order
    a0 = sorted((r for r in out if r.shard_id == out[0].shard_id), key=lambda r: r.pos_in_shard)
    assert [r.doc_id for r in a0] != sorted(r.doc_id for r in a0)


def test_training_shards_roundtrip_and_audit(spark, tmp_path):
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )

    rows = [(i, f"document number {i} with some filler tokens") for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = str(tmp_path / "shards")
    manifest = write_training_shards(df, "doc_id", "text", out, n_shards=6, seed="s1")
    m = {r.shard_id: r for r in manifest.collect()}
    assert sum(r.n_rows for r in m.values()) == 300 and set(m) <= set(range(6))

    # round trip: every row back, permutation replayable, audit clean
    back = read_training_shards(spark, out)
    assert back.count() == 300
    assert {r.doc_id for r in back.collect()} == set(range(300))
    assert verify_training_shards(spark, out, "text").count() == 0

    # same seed → byte-identical manifest (deterministic layout)
    out2 = str(tmp_path / "shards2")
    manifest2 = write_training_shards(df, "doc_id", "text", out2, n_shards=6, seed="s1")
    assert sorted(map(tuple, manifest.collect())) == sorted(map(tuple, manifest2.collect()))

    # corruption: drop one data file → the audit flags exactly its shard
    import glob as g
    import os as o

    victim = sorted(g.glob(out + "/data/shard_id=*/*.parquet"))[0]
    shard = int(victim.split("shard_id=")[1].split("/")[0])
    o.unlink(victim)
    bad = verify_training_shards(spark, out, "text").collect()
    assert [r.shard_id for r in bad] == [shard]


def _admit_to_index(spark, idx, rows, shingle_buckets=None):
    """Probe ``rows`` against the history index at ``idx`` and append the
    survivors' index rows (the admission step of the incremental corpus
    build, without its other stages). Returns the admitted doc ids. The
    survivors are collected into a fresh frame before the append: their
    plan reads the index dirs being appended to."""
    from f1_datalakehouse_pipeline_spark.streaming.novelty import (
        _append_index,
        _read_index,
    )

    batch = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    index = _read_index(spark, idx)
    if index is not None:
        hits = dedup.novelty_pairs(batch, index, "doc_id", "text", threshold=0.5)
        batch = dedup.filter_novel(batch, hits, "doc_id")
    survivors = batch.collect()
    if survivors:
        _append_index(
            idx,
            dedup.minhash_band_index(
                spark.createDataFrame(survivors, batch.schema), "doc_id", "text"
            ),
            shingle_buckets=shingle_buckets,
        )
    return {r.doc_id for r in survivors}


@pytest.mark.parametrize("shingle_buckets", [None, 8])
def test_novelty_index_accumulates_across_three_batches(spark, tmp_path, shingle_buckets):
    """REGRESSION (r5): every batch's index rows must survive into the
    on-disk index — not just batch 1's. The state-extension writes derive
    from the cached survivor set whose LINEAGE reads the very paths being
    appended to; Spark invalidates and re-materializes such caches on
    append (recacheByPath), so without lineage-breaking staging the
    re-computation sees the batch's own freshly-written rows, evaluates
    empty, and appends NOTHING — silently truncating the index to batch 1
    and under-rejecting every later cross-batch near-dup. Two-batch tests
    structurally cannot catch this; it takes three. Runs the incremental
    corpus build under both shingles layouts and reads the admitted set
    back from the index itself."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline_incremental,
    )
    from f1_datalakehouse_pipeline_spark.streaming.novelty import (
        _read_index,
        _shingles_table_name,
    )

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "completely different prose describing shuffle partitions in spark"
    c = "a third unrelated text about parquet footers and column statistics"
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    idx = str(tmp_path / "state" / "lsh")
    kw = dict(quality_min=0.0, near_threshold=0.5, chunk_tokens=8,
              overlap_tokens=2, n_shards=4, seed="e0",
              shingle_buckets=shingle_buckets)
    batches = [
        [(1, a)],
        [(10, b)],                       # batch 2's rows must reach the index
        [(20, a + " indeed"), (21, b + " indeed"), (22, c)],
    ]
    try:
        for rows in batches:
            run_corpus_pipeline_incremental(
                spark, spark.createDataFrame(rows, ["doc_id", "text"]), out,
                state, **kw,
            )
        admitted = {r.doc for r in _read_index(spark, idx)[2].collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {_shingles_table_name(idx)}")
    # 20 dups batch-1's doc 1; 21 dups BATCH-2's doc 10 — the regression case
    assert admitted == {1, 10, 22}


def test_incremental_corpus_rejects_dups_of_every_earlier_batch(spark, tmp_path):
    """REGRESSION (r5): the incremental pipeline's LSH state must accumulate
    across ALL batches (same recacheByPath self-poisoning as the novelty
    gate): a batch-3 near-dup of a BATCH-2 admitted doc must be rejected."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline_incremental,
    )

    base = "a quick brown fox jumps over the lazy dog near the river bank today"
    other = "another unrelated document describing parquet row group statistics fully"
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    kw = dict(quality_min=0.0, near_threshold=0.5, chunk_tokens=8,
              overlap_tokens=2, n_shards=4, seed="e0", max_doc_frequency=64)
    r1 = run_corpus_pipeline_incremental(
        spark, spark.createDataFrame([(1, base)], ["doc_id", "text"]), out, state, **kw
    )
    r2 = run_corpus_pipeline_incremental(
        spark, spark.createDataFrame([(10, other)], ["doc_id", "text"]), out, state, **kw
    )
    r3 = run_corpus_pipeline_incremental(
        spark,
        spark.createDataFrame(
            [(20, base + " indeed"), (21, other + " pls")], ["doc_id", "text"]
        ),
        out, state, **kw,
    )
    assert r1.counts["after_near_dedup"] == 1
    assert r2.counts["after_near_dedup"] == 1
    # both batch-3 docs near-dup earlier admissions (batch 1 AND batch 2)
    assert r3.counts["after_near_dedup"] == 0
    assert r3.audit_violations == 0


def test_incremental_state_store_writes_are_sized(spark, tmp_path):
    """Every per-batch state write is sized, not one-file-per-shuffle-
    partition (guide §6). One 2-batch semantic-enabled pipeline run pins,
    per committed batch: exactly ONE data file in the exact-hash partition
    (r11: row-count-derived corpus._sized — this clause was
    test_incremental_exact_store_writes_are_size_derived before the r12
    merge), ONE per flat LSH component, ≤ one per occupied band dir, and
    ONE per semantic member partition (r12: REBALANCE-sized appends)."""
    import glob
    import os

    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline_incremental,
    )

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    docs = [
        (i, f"document number {i} about spark partition sizing topic {i % 3} today")
        for i in range(8)
    ]
    emb = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i)]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    kw = dict(
        quality_min=0.0, near_threshold=0.5, chunk_tokens=8, overlap_tokens=2,
        n_shards=4, seed="e0", max_doc_frequency=64,
        embeddings=emb, semantic_eps=0.999999,
        semantic_centroids=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]],
    )
    run_corpus_pipeline_incremental(
        spark, spark.createDataFrame(docs[:4], ["doc_id", "text"]), out, state, **kw
    )
    run_corpus_pipeline_incremental(
        spark, spark.createDataFrame(docs[4:], ["doc_id", "text"]), out, state, **kw
    )
    # exact-hash store: one data file per committed batch partition (r11)
    exact_dir = os.path.join(state, "exact_hashes")
    parts = [d for d in os.listdir(exact_dir) if d.startswith("batch_token=")]
    assert len(parts) == 2
    for d in parts:
        files = glob.glob(os.path.join(exact_dir, d, "*.parquet"))
        assert len(files) == 1, (d, files)
    # flat LSH components: one data file per batch append (r12)
    for comp in ("shingles", "sizes"):
        files = glob.glob(os.path.join(state, "lsh", comp, "*.parquet"))
        assert len(files) == 2, (comp, files)
    # bands: partitioned by band — one file per occupied band dir per batch
    for band_dir in glob.glob(os.path.join(state, "lsh", "bands", "band=*")):
        files = glob.glob(os.path.join(band_dir, "*.parquet"))
        assert 1 <= len(files) <= 2, (band_dir, files)
    # semantic members: one file per committed batch partition (r12)
    sem_parts = [
        d for d in os.listdir(os.path.join(state, "semantic"))
        if d.startswith("batch_token=")
    ]
    assert len(sem_parts) == 2
    for d in sem_parts:
        files = glob.glob(os.path.join(state, "semantic", d, "*.parquet"))
        assert len(files) == 1, (d, files)


@pytest.mark.parametrize("shingle_buckets", [None, 8])
def test_compact_novelty_index_preserves_probe(spark, tmp_path, shingle_buckets):
    """VERDICT r5 item 3: compaction must rewrite the per-batch index appends
    into few files while leaving EVERY probe verdict identical (the verify
    join counts shingle rows, so the rewrite must be multiset-exact) — and
    the bucketed layout must keep its catalog identity through the swap."""
    from f1_datalakehouse_pipeline_spark.streaming.novelty import (
        _count_files,
        _read_index,
        compact_novelty_index,
    )

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "completely different prose describing shuffle partitions in spark"
    c = "a third unrelated text about parquet footers and column statistics"
    idx = str(tmp_path / "idx")
    admitted = set()
    for rows in [[(1, a)], [(10, b)], [(20, c)]]:
        admitted |= _admit_to_index(spark, idx, rows, shingle_buckets)

    probe = spark.createDataFrame(
        [(100, a + " indeed"), (101, b + " indeed"), (102, c + " indeed"),
         (103, "entirely novel content about broadcast join thresholds")],
        ["doc_id", "text"],
    )

    def pairs():
        index = _read_index(spark, idx)
        return {
            (r.doc_new, r.doc_hist)
            for r in dedup.novelty_pairs(
                probe, index, "doc_id", "text", threshold=0.5
            ).collect()
        }

    before_pairs = pairs()
    assert {d for d, _ in before_pairs} == {100, 101, 102}  # baseline sanity
    import os

    files_before = _count_files(os.path.join(idx, "bands"))
    stats = compact_novelty_index(spark, idx)
    assert pairs() == before_pairs
    # 3 batches x 4 band dirs appended 12+ files; compaction leaves 1/band
    assert stats["bands"]["files_after"] < files_before
    assert stats["bands"]["files_after"] <= 4
    assert stats["sizes"]["files_after"] == 1
    # bucketed layout: one file per NON-EMPTY bucket after compaction (this
    # tiny fixture has 3 docs → ≤3 non-empty buckets; the per-batch append
    # growth the hook exists for is measured in PERF_NOTES.md, "r6
    # state-compaction rung")
    assert stats["shingles"]["files_after"] <= stats["shingles"]["files_before"]
    assert stats["shingles"]["files_after"] <= (shingle_buckets or 1) * 3

    # a fourth admission composes with the compacted index (its near-dup of
    # doc 1 is rejected), a fifth appends fresh files beside the compacted
    # ones, and a SECOND compaction over the mixed files is still exact
    admitted |= _admit_to_index(spark, idx, [(30, a + " yet again")], shingle_buckets)
    assert admitted == {1, 10, 20}
    assert _admit_to_index(
        spark, idx, [(40, "entirely novel content about adaptive query plans")],
        shingle_buckets,
    ) == {40}
    mixed_pairs = pairs()
    compact_novelty_index(spark, idx)
    assert pairs() == mixed_pairs


def test_compact_novelty_index_crash_recovery(spark, tmp_path):
    """Every crash point of the component swap must be recoverable from the
    directory states alone, and the ingest path must self-recover (the
    recovery hook runs before every index read)."""
    import os
    import shutil

    from f1_datalakehouse_pipeline_spark.streaming.novelty import _read_index

    a = "the quick brown fox jumps over the lazy dog again and again"
    idx = str(tmp_path / "idx")
    _admit_to_index(spark, idx, [(1, a)])
    bands = os.path.join(idx, "bands")
    baseline = {
        tuple(r) for r in spark.read.parquet(bands).collect()
    }

    # crash between the two renames: main gone, backup present, rewrite done
    shutil.copytree(bands, bands + "__compact")
    os.rename(bands, bands + "__precompact")
    assert _read_index(spark, idx) is not None  # auto-rolled back
    assert {tuple(r) for r in spark.read.parquet(bands).collect()} == baseline
    assert not os.path.isdir(bands + "__precompact")
    assert not os.path.isdir(bands + "__compact")

    # crash after the swap, before the backup delete
    shutil.copytree(bands, bands + "__precompact")
    assert _read_index(spark, idx) is not None
    assert not os.path.isdir(bands + "__precompact")
    assert {tuple(r) for r in spark.read.parquet(bands).collect()} == baseline

    # a leftover incomplete rewrite is dropped
    os.makedirs(bands + "__compact")
    assert _read_index(spark, idx) is not None
    assert not os.path.isdir(bands + "__compact")


@pytest.mark.slow
def test_incremental_corpus_psi_drift_gate(spark, tmp_path):
    """VERDICT r5 item 5: with a drift_reference from the bootstrap corpus,
    each batch's quality/token distributions are PSI-scored in the report —
    an in-distribution batch stays unflagged, a drifted batch (10x longer
    docs) flags n_tokens — while chunk delivery stays BYTE-EQUAL to the
    ungated run (drift flags, it never rejects)."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        corpus_drift_reference,
        run_corpus_pipeline_incremental,
    )
    from f1_datalakehouse_pipeline_spark.sources.shards import read_shard_manifest

    words = ("spark shuffle partition broadcast join executor memory stage task "
             "parquet footer column statistics codegen whole stage").split()
    boot_rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(12)))
        for i in range(40)
    ]
    bootstrap = spark.createDataFrame(boot_rows, ["doc_id", "text"])
    ref = corpus_drift_reference(bootstrap, "text")

    b1 = spark.createDataFrame(
        [(100 + i, " ".join(words[(i + j + 3) % len(words)] for j in range(12)))
         for i in range(10)],
        ["doc_id", "text"],
    )
    drifted = spark.createDataFrame(
        [(200 + i, " ".join(words[(i * 5 + j) % len(words)] for j in range(120)))
         for i in range(10)],
        ["doc_id", "text"],
    )
    kw = dict(quality_min=0.0, near_threshold=0.99, chunk_tokens=16,
              overlap_tokens=4, n_shards=4, seed="e0")

    out_g, state_g = str(tmp_path / "g_out"), str(tmp_path / "g_state")
    r1 = run_corpus_pipeline_incremental(
        spark, b1, out_g, state_g, drift_reference=ref, **kw
    )
    assert set(r1.drift_psi) == {"quality", "n_tokens"}
    assert r1.drift_flagged == []          # same token-length regime
    r2 = run_corpus_pipeline_incremental(
        spark, drifted, out_g, state_g, drift_reference=ref, **kw
    )
    assert "n_tokens" in r2.drift_flagged  # 12-token docs -> 120-token docs
    assert r2.drift_psi["n_tokens"] > 0.25

    # delivery identity: the ungated run produces the exact same manifest
    out_u, state_u = str(tmp_path / "u_out"), str(tmp_path / "u_state")
    run_corpus_pipeline_incremental(spark, b1, out_u, state_u, **kw)
    run_corpus_pipeline_incremental(spark, drifted, out_u, state_u, **kw)
    m_g = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
           for r in read_shard_manifest(spark, out_g).collect()}
    m_u = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
           for r in read_shard_manifest(spark, out_u).collect()}
    assert m_g == m_u


@pytest.mark.slow
def test_compact_corpus_state_preserves_verdicts(spark, tmp_path):
    """compact_corpus_state folds committed exact-hash partitions into one
    and compacts the LSH root; exact and near duplicates of EVERY earlier
    batch must still be rejected afterwards, and an in-flight (uncommitted)
    partition must survive the fold untouched."""
    import os

    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        compact_corpus_state,
        run_corpus_pipeline_incremental,
    )

    base = "a quick brown fox jumps over the lazy dog near the river bank today"
    other = "another unrelated document describing parquet row group statistics fully"
    third = "a third clean piece about executor memory sizing and shuffle spill"
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    kw = dict(quality_min=0.0, near_threshold=0.5, chunk_tokens=8,
              overlap_tokens=2, n_shards=4, seed="e0", max_doc_frequency=64)
    for i, txt in enumerate([base, other, third]):
        run_corpus_pipeline_incremental(
            spark, spark.createDataFrame([(i * 10 + 1, txt)], ["doc_id", "text"]),
            out, state, **kw,
        )
    exact_dir = os.path.join(state, "exact_hashes")
    assert len(os.listdir(exact_dir)) == 3

    # plant an UNCOMMITTED partition (crashed in-flight batch): must survive
    orphan = os.path.join(exact_dir, "batch_token=" + "f" * 32)
    spark.createDataFrame([(12345,)], "content_hash long").write.parquet(orphan)

    stats = compact_corpus_state(spark, state)
    assert stats["exact_hashes"]["folded_partitions"] == 3
    parts = sorted(os.listdir(exact_dir))
    assert len(parts) == 2 and os.path.isdir(orphan)
    assert any(p.startswith("batch_token=__compacted_") for p in parts)

    # every earlier batch still rejects its exact and near duplicates
    r = run_corpus_pipeline_incremental(
        spark,
        spark.createDataFrame(
            [(100, base), (101, other + " pls"), (102, third + " indeed"),
             (103, "genuinely novel content about broadcast join thresholds")],
            ["doc_id", "text"],
        ),
        out, state, **kw,
    )
    assert r.counts["after_exact_dedup"] == 3   # 100 gone at the exact gate
    assert r.counts["after_near_dedup"] == 1    # 101/102 gone at the LSH probe
    assert r.audit_violations == 0

    # idempotent second fold (now 1 compacted + 1 fresh committed partition)
    stats2 = compact_corpus_state(spark, state)
    assert stats2["exact_hashes"]["folded_partitions"] == 2


def test_should_compact_policy(tmp_path):
    """should_compact keys on the observable that degrades the probe (data
    file count) with a mean-file-size floor so chunky indexes never churn
    (VERDICT r6 item 7)."""
    from f1_datalakehouse_pipeline_spark.streaming.novelty import should_compact

    idx = tmp_path / "idx"
    for comp in ("bands", "shingles", "sizes"):
        d = idx / comp
        d.mkdir(parents=True)
        for i in range(4):
            (d / f"part-{i}.parquet").write_bytes(b"x" * 100)
        (d / "_SUCCESS").write_bytes(b"")  # marker files never counted

    # no threshold configured → never fires
    assert not should_compact(str(idx))
    # 12 data files: above 10 fires, at/below 12 does not
    assert should_compact(str(idx), max_files=10)
    assert not should_compact(str(idx), max_files=12)
    # mean file size (100 B) under the floor → still fires; above it → held
    assert should_compact(str(idx), max_files=10, max_bytes_per_file=1000)
    assert not should_compact(str(idx), max_files=10, max_bytes_per_file=50)

    # layout-agnostic walk (components=None): staging/marker dirs skipped
    (idx / "_commits").mkdir()
    (idx / "_commits" / "token1").write_bytes(b"y" * 10_000)
    assert should_compact(str(idx), max_files=10, components=None)
    assert not should_compact(str(idx), max_files=12, components=None)


def test_novelty_ingest_survives_shingle_less_first_batch(spark, tmp_path):
    """A first batch of sub-k-token docs appends an EMPTY index; the next
    read must treat that as 'no history yet' instead of failing parquet
    schema inference on data-less directories."""
    import os

    from f1_datalakehouse_pipeline_spark.streaming.novelty import _read_index

    idx = str(tmp_path / "idx")
    assert _admit_to_index(spark, idx, [(1, "hi"), (2, "")]) == {1, 2}
    assert os.path.isdir(os.path.join(idx, "bands"))
    assert _read_index(spark, idx) is None

    # the next batch with real docs must not crash on the empty index dirs
    assert _admit_to_index(
        spark, idx, [(3, "a genuinely long document about spark shuffle behavior")]
    ) == {3}
    assert {r.doc for r in _read_index(spark, idx)[2].collect()} == {3}


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    """The full corpus build: every hygiene stage removes exactly the rows
    planted for it, and the delivered shards audit clean."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import run_corpus_pipeline

    good = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, good),
        (2, good),                                           # exact dup of 1
        (3, good + " indeed"),                               # near dup of 1 (J≈0.92)
        (4, "email me at alice@example.com about the spark shuffle internals please"),
        (5, "!!! ??? ... ;;; ///" * 30),                     # low quality (punct)
        (6, "benchmark question what is the capital of france answer paris obviously"),
        (7, "an ordinary clean document describing parquet row group statistics"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "benchmark question what is the capital of france answer paris")],
        ["doc_id", "text"],
    )
    rep = run_corpus_pipeline(
        spark,
        docs,
        str(tmp_path / "corpus_out"),
        benchmark=bench,
        quality_min=0.5,
        near_threshold=0.5,
        chunk_tokens=8,
        overlap_tokens=2,
        n_shards=4,
        seed="e0",
    )
    assert rep.counts["raw"] == 7
    assert rep.counts["after_quality"] == 6          # doc 5 gone
    assert rep.counts["after_exact_dedup"] == 5      # doc 2 gone
    assert rep.counts["after_near_dedup"] == 4       # doc 3 gone
    assert rep.counts["after_decontamination"] == 3  # doc 6 gone
    assert rep.counts["chunks"] >= 3 and rep.audit_violations == 0
    assert sum(m["n_rows"] for m in rep.shard_manifest) == rep.counts["chunks"]

    # the PII scrub reached the delivered text
    from f1_datalakehouse_pipeline_spark.sources.shards import read_training_shards

    delivered = " ".join(
        r.chunk_text for r in read_training_shards(spark, str(tmp_path / "corpus_out")).collect()
    )
    assert "alice@example.com" not in delivered and "<EMAIL>" in delivered


def _persistent_rdds_after_gc(spark, floor: int) -> int:
    """Persistent-RDD count once unreachable local checkpoints are cleaned
    (the ContextCleaner frees them after a driver GC); polls until the count
    is at most ``floor``, for up to ten seconds."""
    import gc
    import time

    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(20):
        if n <= floor:
            break
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        n = spark.sparkContext._jsc.getPersistentRDDs().size()
    return n


def test_corpus_builds_do_not_accumulate_cached_rdds(spark, tmp_path):
    """Three corpus builds in one session leave no more persistent RDDs than
    one: every cache a build makes (stage caches, the LSH shingle table) is
    released by the build."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import run_corpus_pipeline

    words = [f"w{i}" for i in range(300)]

    def docs(seed):
        rows = []
        for i in range(40):
            if i % 8 == 3:  # near duplicate of the previous doc
                text = rows[-1][1] + " extra"
            else:
                text = "the " + " ".join(words[(seed * 7 + i * 13 + j * j) % 300] for j in range(30))
            rows.append((i, text))
        return spark.createDataFrame(rows, ["doc_id", "text"])

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    counts = []
    for b in range(3):
        rep = run_corpus_pipeline(
            spark, docs(b), str(tmp_path / f"out{b}"), near_threshold=0.7, n_shards=2
        )
        assert rep.counts["after_near_dedup"] < rep.counts["after_exact_dedup"]
        counts.append(_persistent_rdds_after_gc(spark, before))
    assert counts[2] <= counts[0], counts


@pytest.mark.parametrize("incremental", [False, True])
def test_corpus_build_spreads_one_file_input(spark, tmp_path, monkeypatch, incremental):
    """A one-file corpus input is a single partition; both builds spread it
    before the quality filter, so quality scoring and the PII scrub run on
    defaultParallelism partitions. Checked on the quality stage, which is
    what exact_dedup receives."""
    from f1_datalakehouse_pipeline_spark.plans import corpus

    words = [f"w{i}" for i in range(300)]
    rows = [
        (i, "the " + " ".join(words[(i * 13 + j * j) % 300] for j in range(30)))
        for i in range(64)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(src)
    docs = spark.read.parquet(src)
    assert docs.rdd.getNumPartitions() == 1

    seen = []
    exact_dedup = dedup.exact_dedup

    def spy(df, id_col, content_col):
        seen.append(df)
        return exact_dedup(df, id_col, content_col)

    monkeypatch.setattr(dedup, "exact_dedup", spy)
    out = str(tmp_path / "out")
    if incremental:
        corpus.run_corpus_pipeline_incremental(
            spark, docs, out, str(tmp_path / "state"), n_shards=2
        )
    else:
        corpus.run_corpus_pipeline(spark, docs, out, n_shards=2)
    n = spark.sparkContext.defaultParallelism
    assert [df.rdd.getNumPartitions() for df in seen] == [n]


def test_incremental_corpus_builds_release_local_checkpoints(spark, tmp_path):
    """Each incremental build releases the local checkpoints it made (the
    LSH pairs, the novelty probe's batch shingles) before it returns: with
    no driver GC in between, three builds in one session never leave more
    persistent RDDs than there were before each call."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline_incremental,
    )

    words = [f"w{i}" for i in range(300)]

    def docs(seed):
        rows = []
        for i in range(40):
            if i % 8 == 3:  # near duplicate of the previous doc
                text = rows[-1][1] + " extra"
            else:
                text = "the " + " ".join(words[(seed * 7 + i * 13 + j * j) % 300] for j in range(30))
            rows.append((seed * 100 + i, text))
        return spark.createDataFrame(rows, ["doc_id", "text"])

    jsc = spark.sparkContext._jsc
    for b in range(3):
        before = jsc.getPersistentRDDs().size()
        rep = run_corpus_pipeline_incremental(
            spark, docs(b), str(tmp_path / "out"), str(tmp_path / "state"),
            near_threshold=0.7, n_shards=2,
        )
        assert rep.counts["after_near_dedup"] < rep.counts["after_exact_dedup"]
        assert jsc.getPersistentRDDs().size() <= before, b


def test_chunk_id_compose_guards(spark):
    """compose_chunk_id raises loudly instead of silently colliding (VERDICT
    r4 blemish 3): degenerate long doc (chunk_idx >= 2^shift), oversized
    doc_id, negative doc_id all fail at execution; the plan-time type check
    rejects non-integral id columns."""
    import pyspark.errors

    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        compose_chunk_id,
        run_corpus_pipeline,
    )

    ok = spark.createDataFrame([(7, 4095), (2**50 - 1, 0)], ["doc_id", "chunk_idx"])
    got = {r.cid for r in ok.select(compose_chunk_id("doc_id", "chunk_idx").alias("cid")).collect()}
    assert got == {(7 << 12) | 4095, (2**50 - 1) << 12}

    for bad_row in [(1, 4096), (2**51, 0), (-1, 0)]:
        bad = spark.createDataFrame([bad_row], ["doc_id", "chunk_idx"])
        with pytest.raises(Exception) as exc:
            bad.select(compose_chunk_id("doc_id", "chunk_idx").alias("cid")).collect()
        assert "chunk_id compose overflow" in str(exc.value)

    # a smaller shift trips earlier; a larger shift admits more chunks
    small = spark.createDataFrame([(1, 16)], ["doc_id", "chunk_idx"])
    with pytest.raises(Exception):
        small.select(compose_chunk_id("doc_id", "chunk_idx", shift=4).alias("c")).collect()
    assert small.select(
        compose_chunk_id("doc_id", "chunk_idx", shift=5).alias("c")
    ).collect()[0].c == (1 << 5) | 16

    # plan-time: string doc_id is rejected before any job runs
    sdocs = spark.createDataFrame([("d1", "some text here")], ["doc_id", "text"])
    with pytest.raises(TypeError, match="integral"):
        run_corpus_pipeline(spark, sdocs, "/tmp/unused-corpus-out")


def test_containment_catches_subset_duplication(spark):
    # doc 2 is doc 1's text fully embedded in a much longer page: symmetric
    # Jaccard is low (shared/union ~ 1/3) but containment is 1.0.
    inner = "alpha beta gamma delta epsilon zeta eta theta"
    outer = (
        "page header boilerplate nav " + inner + " footer links copyright "
        "contact about careers press terms privacy sitemap newsletter signup"
    )
    df = spark.createDataFrame(
        [(1, inner), (2, outer), (3, "totally unrelated content body here")],
        ["doc_id", "text"],
    )
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.0).collect()
    }
    cont = {
        (r.doc_a, r.doc_b): (r.containment, r.contained_doc)
        for r in dedup.shingle_containment_pairs(
            df, "doc_id", "text", k=3, threshold=0.8
        ).collect()
    }
    assert cont[(1, 2)][0] == 1.0 and cont[(1, 2)][1] == 1  # doc 1 is the contained one
    assert jac[(1, 2)] < 0.5  # jaccard alone would not flag it at common thresholds
    assert (1, 3) not in cont and (2, 3) not in cont


def test_containment_at_least_jaccard_and_df_cap(spark, sf_dir):
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    j = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.2).collect()
    }
    c = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.shingle_containment_pairs(
            docs, "doc_id", "text", k=3, threshold=0.0
        ).collect()
    }
    assert j, "corpus should contain near-dup pairs"
    for pair, jv in j.items():
        assert c[pair] >= jv - 1e-12  # containment dominates jaccard


def _mix_corpus(spark, n=300, domains=("a", "b", "c", "zero", "huge")):
    rows = []
    for i in range(n):
        dom = domains[i % len(domains)]
        rows.append((i, dom, (i * 37) % 23 + (0 if i % 11 else 0)))
    # a few zero-token docs to exercise the exclusion contract
    rows += [(n + 1, "a", 0), (n + 2, "zero", 0)]
    return spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])


@pytest.mark.parametrize("n_buckets", [4, 64, 4096])
def test_budgeted_mixture_matches_naive_window(spark, n_buckets):
    from f1_datalakehouse_pipeline_spark.operators.mixture import (
        budgeted_mixture,
        budgeted_mixture_naive,
    )

    df = _mix_corpus(spark)
    budgets = {"a": 150, "b": 400, "c": 10**9, "zero": 0}  # "huge" unlisted → dropped
    fast = budgeted_mixture(df, "doc_id", "source", "n_tokens", budgets, n_buckets=n_buckets)
    naive = budgeted_mixture_naive(df, "doc_id", "source", "n_tokens", budgets)
    f_rows = sorted(map(tuple, fast.collect()))
    n_rows = sorted(map(tuple, naive.collect()))
    assert f_rows == n_rows and f_rows
    by_dom = {}
    for _, dom, n, cum in f_rows:
        by_dom.setdefault(dom, []).append((n, cum))
    assert "zero" not in by_dom and "huge" not in by_dom
    for dom, lst in by_dom.items():
        assert max(c for _, c in lst) <= budgets[dom]
    # domain c's budget exceeds its total mass → every positive-token doc kept
    total_c = df.filter((F.col("source") == "c") & (F.col("n_tokens") > 0)).count()
    assert len(by_dom["c"]) == total_c


def test_corpus_pipeline_optional_containment_and_mixture_stages(spark, tmp_path):
    """The opt-in stages remove exactly their planted rows: the contained doc
    (subset-dup past the symmetric near-dedup) and the docs past each
    domain's token budget — and stay off by default."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import run_corpus_pipeline

    inner = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    outer = (
        "page header boilerplate nav " + inner + " footer links copyright "
        "contact about careers press terms privacy sitemap newsletter signup"
    )
    rows = [(1, "web", inner), (2, "web", outer)] + [
        (i, "code", f"def fn{i} returns value{i} plus offset{i} for index{i} loop{i}")
        for i in range(10, 22)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])

    common = dict(
        quality_min=0.0,
        near_threshold=0.95,
        chunk_tokens=16,
        overlap_tokens=0,
        n_shards=2,
        seed="mixstage",
    )
    rep = run_corpus_pipeline(
        spark, docs, str(tmp_path / "plain"), **common
    )
    assert "after_containment_dedup" not in rep.counts
    assert "after_mixture" not in rep.counts

    # half-configured mixture must fail loudly, not silently skip the stage
    with pytest.raises(ValueError, match="TOGETHER"):
        run_corpus_pipeline(
            spark, docs, str(tmp_path / "half"), domain_col="source", **common
        )

    rep = run_corpus_pipeline(
        spark,
        docs,
        str(tmp_path / "full"),
        containment_threshold=0.9,
        domain_col="source",
        domain_budgets={"web": 10**6, "code": 30},
        **common,
    )
    # doc 1 (the contained subset) drops; doc 2 (the superset) survives
    assert rep.counts["after_containment_dedup"] == rep.counts["after_near_dedup"] - 1
    # code domain capped at 30 tokens (each code doc is 7 tokens -> 4 admitted)
    assert rep.counts["after_mixture"] < rep.counts["after_containment_dedup"]
    from f1_datalakehouse_pipeline_spark.sources.shards import read_training_shards

    delivered = read_training_shards(spark, str(tmp_path / "full"))
    words = set(
        " ".join(r.chunk_text for r in delivered.collect()).split()
    )
    # the surviving superset doc's content shipped (incl. the embedded inner
    # text); phrase-level checks would straddle chunk boundaries
    assert {"alpha", "kappa", "boilerplate", "sitemap"} <= words


def test_repeat_mixture_copy_semantics(spark):
    from f1_datalakehouse_pipeline_spark.operators.mixture import repeat_mixture

    rows = [(i, ["drop", "half", "whole", "twoandhalf"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    rates = {"drop": 0.0, "half": 0.5, "whole": 1.0, "twoandhalf": 2.5}
    out = repeat_mixture(df, "doc_id", "source", rates, seed="rt")
    got = out.groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in got}
    assert "drop" not in counts
    assert counts["whole"] == 100                      # exactly one copy each
    assert 25 <= counts["half"] <= 75                  # ~50 of 100, hash-chosen
    assert 225 <= counts["twoandhalf"] <= 275          # 200 + ~50 extras
    # copy_idx contiguity: every doc's copies are 1..n
    per_doc = {}
    for r in out.collect():
        per_doc.setdefault(r.doc_id, []).append(r.copy_idx)
    for doc, idxs in per_doc.items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1)), (doc, idxs)
    # deterministic: second run byte-identical
    again = repeat_mixture(df, "doc_id", "source", rates, seed="rt")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
    # a different seed re-draws the fractional extras
    other = repeat_mixture(df, "doc_id", "source", rates, seed="rt2")
    assert sorted(map(tuple, out.collect())) != sorted(map(tuple, other.collect()))


def test_linear_model_score_semantics(spark):
    from f1_datalakehouse_pipeline_spark.functions.text import linear_model_score

    dim = 8
    # weight +900 for bucket of "good", -900 for bucket of "bad" (resolve
    # the buckets first so the test is robust to the hash)
    from pyspark.sql import functions as F

    probe = spark.createDataFrame([("good",), ("bad",)], ["t"])
    from f1_datalakehouse_pipeline_spark.functions.text import portable_hash48

    buckets = {
        r.t: r.b for r in probe.select("t", (portable_hash48(F.col("t")) % dim).alias("b")).collect()
    }
    w = [0] * dim
    w[buckets["good"]] += 900
    w[buckets["bad"]] -= 900
    df = spark.createDataFrame(
        [(1, "good good good"), (2, "bad bad"), (3, ""), (4, "good bad")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", linear_model_score(F.col("text"), tuple(w)).alias("s")
        ).collect()
    }
    assert out[1] > 0.5 and out[2] < -0.4          # sign follows the evidence
    assert out[3] == 0.0                           # empty doc -> bias only
    if buckets["good"] != buckets["bad"]:
        assert abs(out[4]) < 0.1                   # balanced doc ~ neutral
    assert all(-1.0 < v < 1.0 for v in out.values())
    # bias shifts every score in the same direction
    out_b = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id",
            linear_model_score(F.col("text"), tuple(w), bias_milli=500).alias("s"),
        ).collect()
    }
    assert all(out_b[k] > out[k] for k in out)


def test_shard_audit_flags_algo_mismatch_loudly(spark, tmp_path):
    """A manifest written under a DIFFERENT checksum formula must audit as an
    algo-mismatch (one violation class), not as per-shard corruption noise."""
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        read_shard_manifest,
        verify_training_shards,
        write_training_shards,
        MANIFEST_DIR,
    )
    import os

    out = str(tmp_path / "shards")
    df = spark.createDataFrame(
        [(i, f"doc body {i} tokens") for i in range(40)], ["doc_id", "text"]
    )
    write_training_shards(df, "doc_id", "text", out, 4, "algo-test")
    assert verify_training_shards(spark, out, "text").count() == 0

    # rewrite the manifest claiming an older formula
    from pyspark.sql import functions as F

    m = read_shard_manifest(spark, out).withColumn(
        "checksum_algo", F.lit("sum-hash48-raw")
    )
    m.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, MANIFEST_DIR + "_new"))
    import shutil

    shutil.rmtree(os.path.join(out, MANIFEST_DIR))
    shutil.move(os.path.join(out, MANIFEST_DIR + "_new"), os.path.join(out, MANIFEST_DIR))

    viol = verify_training_shards(spark, out, "text")
    assert viol.count() == 4  # every manifest row flagged...
    algos = {r.checksum_algo for r in viol.collect()}
    assert algos == {"sum-hash48-raw"}  # ...with the mismatched algo visible


def test_shard_audit_verifies_legacy_unversioned_manifest(spark, tmp_path):
    """A pre-versioning manifest (no checksum_algo column, raw 48-bit sum
    checksums) still audits clean — verify recomputes with the legacy formula
    instead of flagging every intact shard (ADVICE r4)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from f1_datalakehouse_pipeline_spark.functions.text import portable_hash48
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        MANIFEST_DIR,
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )

    out = str(tmp_path / "shards")
    df = spark.createDataFrame(
        [(i, f"legacy doc body {i} tokens") for i in range(40)], ["doc_id", "text"]
    )
    write_training_shards(df, "doc_id", "text", out, 4, "legacy-test")

    # forge the old on-disk shape: raw-sum checksums, no checksum_algo column
    legacy = (
        read_training_shards(spark, out)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length("text")).alias("n_tokens"),
            F.sum(portable_hash48(F.col("text"))).alias("checksum"),
        )
        .withColumn("seed", F.lit("legacy-test"))
    )
    legacy.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, MANIFEST_DIR + "_new"))
    shutil.rmtree(os.path.join(out, MANIFEST_DIR))
    shutil.move(os.path.join(out, MANIFEST_DIR + "_new"), os.path.join(out, MANIFEST_DIR))

    assert verify_training_shards(spark, out, "text").count() == 0

    # corruption is still caught under the legacy formula: damage one shard
    shard_dir = os.path.join(out, "data", "shard_id=0")
    part = next(p for p in os.listdir(shard_dir) if p.endswith(".parquet"))
    spark.read.parquet(os.path.join(shard_dir, part)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" tampered"))
    ).write.mode("overwrite").parquet(os.path.join(out, "data_tmp"))
    shutil.rmtree(shard_dir)
    shutil.move(os.path.join(out, "data_tmp"), shard_dir)
    viol = verify_training_shards(spark, out, "text").collect()
    assert {r.shard_id for r in viol} == {0}


def test_shard_audit_is_ansi_safe_for_current_algo(spark, tmp_path):
    """Auditing a CURRENT-algo shard set must not compute the legacy raw
    48-bit checksum sum at all: that sum deliberately wraps int64 (matching
    the pre-versioning writer under non-ANSI configs) and would throw under
    ANSI mode — which Spark 4 defaults ON; only this repo's session helper
    pins it off. 70K+ rows guarantee the raw sum would overflow if it were
    computed."""
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        verify_training_shards,
        write_training_shards,
    )

    out = str(tmp_path / "shards")
    df = spark.range(70_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc body number "), F.col("id").cast("string")).alias("text"),
    )
    write_training_shards(df, "doc_id", "text", out, 4, "ansi")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        assert verify_training_shards(spark, out, "text").count() == 0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_append_refuses_legacy_unversioned_manifest(spark, tmp_path):
    """Appending to a PRE-VERSIONING manifest (no checksum_algo column) must
    refuse as loudly as an explicit foreign algo: summing raw-48-bit legacy
    checksums with current-algo terms would stamp a silently mixed-formula
    manifest that the next audit flags wholesale."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from f1_datalakehouse_pipeline_spark.functions.text import portable_hash48
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        MANIFEST_DIR,
        append_training_shards,
        read_training_shards,
        write_training_shards,
    )

    out = str(tmp_path / "shards")
    df = spark.createDataFrame(
        [(i, f"legacy doc body {i} tokens") for i in range(20)], ["doc_id", "text"]
    )
    write_training_shards(df, "doc_id", "text", out, 4, "legacy-test")
    legacy = (
        read_training_shards(spark, out)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length("text")).alias("n_tokens"),
            F.sum(portable_hash48(F.col("text"))).alias("checksum"),
        )
        .withColumn("seed", F.lit("legacy-test"))
    )
    legacy.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, MANIFEST_DIR + "_new")
    )
    shutil.rmtree(os.path.join(out, MANIFEST_DIR))
    shutil.move(os.path.join(out, MANIFEST_DIR + "_new"), os.path.join(out, MANIFEST_DIR))

    batch = spark.createDataFrame([(100, "a brand new doc")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="unversioned"):
        append_training_shards(batch, "doc_id", "text", out, "legacy-test")


@pytest.mark.slow
def test_mixture_survives_thousands_of_domains(spark):
    """The domain→budget lookup is a flat map literal, not an O(n)-deep CASE
    chain (ADVICE r4): 5000 domains must analyze and run."""
    from f1_datalakehouse_pipeline_spark.operators.mixture import (
        budgeted_mixture,
        repeat_mixture,
    )

    budgets = {f"dom{i}": 100 for i in range(5000)}
    df = spark.createDataFrame(
        [(i, f"dom{i % 5000}", 10) for i in range(0, 20000, 400)],
        ["doc_id", "source", "n_tokens"],
    )
    kept = budgeted_mixture(df, "doc_id", "source", "n_tokens", budgets)
    assert kept.count() == 50  # every doc fits its domain's 100-token budget

    rates = {f"dom{i}": 2.0 for i in range(5000)}
    rep = repeat_mixture(df, "doc_id", "source", rates)
    assert rep.count() == 100  # two copies each


@pytest.mark.slow
def test_linear_model_score_at_hashed_feature_dim(spark):
    """The weight vector must hold at a REAL hashed-feature dim (2^16), not
    just the toy dim=64 (ADVICE r4): single array-Literal construction, one
    plan node, scores in (-1, 1), deterministic."""
    from f1_datalakehouse_pipeline_spark.functions.text import linear_model_score

    dim = 1 << 16
    weights = tuple(((i * 2654435761) % 2001) - 1000 for i in range(dim))
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "parquet row group statistics"), (3, "")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", linear_model_score(F.col("text"), weights).alias("s")
        ).collect()
    }
    assert all(-1.0 < v < 1.0 for v in out.values())
    assert out[3] == 0.0  # empty doc: bias 0, no tokens
    again = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", linear_model_score(F.col("text"), weights).alias("s")
        ).collect()
    }
    assert again == out


def test_append_training_shards_refuses_oversized_manifest(spark, tmp_path, monkeypatch):
    """The manifest collect is bounded: a manifest with more than
    MAX_SHARDS rows fails loudly, naming the count, instead of being
    collected whole to the driver."""
    from f1_datalakehouse_pipeline_spark.sources import shards

    rows = [(i, f"doc body number {i} with a few tokens") for i in range(60)]
    out = str(tmp_path / "inc")
    shards.write_training_shards(
        spark.createDataFrame(rows[:40], ["doc_id", "text"]), "doc_id", "text", out, 4, "e0"
    )
    monkeypatch.setattr(shards, "MAX_SHARDS", 2)
    with pytest.raises(ValueError, match=r"more than 2 rows \(3 collected\)"):
        shards.append_training_shards(
            spark.createDataFrame(rows[40:], ["doc_id", "text"]), "doc_id", "text", out, "e0"
        )


def test_append_training_shards_matches_one_shot(spark, tmp_path):
    """Incremental shard delivery: write B1, append B2 — per-shard manifest
    (rows/tokens/checksum) must equal the one-shot write over B1∪B2 exactly
    (every manifest quantity is an order-independent sum), the audit must
    pass, and replay order is old-epoch-first within each shard."""
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        append_training_shards,
        read_shard_manifest,
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )

    rows = [(i, f"doc body number {i} with a few tokens") for i in range(200)]
    b1 = spark.createDataFrame(rows[:120], ["doc_id", "text"])
    b2 = spark.createDataFrame(rows[120:], ["doc_id", "text"])
    union = spark.createDataFrame(rows, ["doc_id", "text"])

    inc, oneshot = str(tmp_path / "inc"), str(tmp_path / "oneshot")
    write_training_shards(b1, "doc_id", "text", inc, 4, "e0")
    pre = {r.shard_id: r.n_rows for r in read_shard_manifest(spark, inc).collect()}
    append_training_shards(b2, "doc_id", "text", inc, "e0")
    write_training_shards(union, "doc_id", "text", oneshot, 4, "e0")

    m_inc = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
             for r in read_shard_manifest(spark, inc).collect()}
    m_one = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
             for r in read_shard_manifest(spark, oneshot).collect()}
    assert m_inc == m_one
    assert verify_training_shards(spark, inc, "text").count() == 0

    data = read_training_shards(spark, inc)
    # same membership per shard as one-shot (assignment is seeded per-id)
    inc_sets = {
        r.shard_id: r.ids
        for r in data.groupBy("shard_id").agg(F.collect_set("doc_id").alias("ids")).collect()
    }
    one_sets = {
        r.shard_id: r.ids
        for r in read_training_shards(spark, oneshot)
        .groupBy("shard_id").agg(F.collect_set("doc_id").alias("ids")).collect()
    }
    assert {k: sorted(v) for k, v in inc_sets.items()} == {k: sorted(v) for k, v in one_sets.items()}
    # positions are a total order per shard, old epoch first
    b1_ids = {r[0] for r in b1.select("doc_id").collect()}
    for r in data.collect():
        if r.doc_id in b1_ids:
            assert r.pos_in_shard <= pre[r.shard_id]
        else:
            assert r.pos_in_shard > pre[r.shard_id]

    # guards: wrong seed and missing manifest are loud
    with pytest.raises(ValueError, match="seed"):
        append_training_shards(b2, "doc_id", "text", inc, "e1")
    with pytest.raises(ValueError, match="manifest"):
        append_training_shards(b2, "doc_id", "text", str(tmp_path / "nowhere"), "e0")


@pytest.mark.slow
def test_incremental_corpus_pipeline_equals_one_shot(spark, tmp_path):
    """VERDICT r4 item 5: admitting B1 then B2 incrementally must equal the
    one-shot pipeline over B1∪B2 (B1 carries smaller ids so first-arrival ==
    min-id keeper choice): same per-stage removals, identical shard manifest
    and chunk sets, audit clean — with the B2 probe using the persisted LSH
    index, not a history self-join."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline,
        run_corpus_pipeline_incremental,
    )
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        read_shard_manifest,
        read_training_shards,
    )

    good = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1_rows = [
        (1, good),
        (2, good),                                           # exact dup of 1 (within B1)
        (3, "an ordinary clean document describing parquet row group statistics"),
        (4, "!!! ??? ... ;;; ///" * 30),                     # low quality
    ]
    b2_rows = [
        (10, good),                                          # exact dup of B1's 1
        (11, good + " indeed"),                              # near dup of B1's 1
        (12, "benchmark question what is the capital of france answer paris obviously"),
        (13, "email me at alice@example.com about the spark shuffle internals please"),
        (14, "a genuinely novel piece about broadcast joins and executor memory sizing"),
    ]
    b1 = spark.createDataFrame(b1_rows, ["doc_id", "text"])
    b2 = spark.createDataFrame(b2_rows, ["doc_id", "text"])
    union = spark.createDataFrame(b1_rows + b2_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "benchmark question what is the capital of france answer paris")],
        ["doc_id", "text"],
    )
    kw = dict(
        benchmark=bench, quality_min=0.5, near_threshold=0.5,
        chunk_tokens=8, overlap_tokens=2, n_shards=4, seed="e0",
    )

    inc_out, state = str(tmp_path / "inc_out"), str(tmp_path / "state")
    r1 = run_corpus_pipeline_incremental(spark, b1, inc_out, state, **kw)
    assert r1.counts["after_quality"] == 3      # 4 gone
    assert r1.counts["after_exact_dedup"] == 2  # 2 gone (no history yet)
    assert r1.counts["after_near_dedup"] == 2
    assert r1.audit_violations == 0

    r2 = run_corpus_pipeline_incremental(spark, b2, inc_out, state, **kw)
    assert r2.counts["after_quality"] == 5
    assert r2.counts["after_exact_dedup"] == 4   # 10 gone vs history hash
    assert r2.counts["after_near_dedup"] == 3    # 11 gone vs LSH index
    assert r2.counts["after_decontamination"] == 2  # 12 gone
    assert r2.audit_violations == 0

    one_out = str(tmp_path / "one_out")
    run_corpus_pipeline(spark, union, one_out, **kw)

    m_inc = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
             for r in read_shard_manifest(spark, inc_out).collect()}
    m_one = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
             for r in read_shard_manifest(spark, one_out).collect()}
    assert m_inc == m_one
    inc_chunks = {(r.chunk_id, r.chunk_text) for r in read_training_shards(spark, inc_out).collect()}
    one_chunks = {(r.chunk_id, r.chunk_text) for r in read_training_shards(spark, one_out).collect()}
    assert inc_chunks == one_chunks
    # the scrub reached delivered text in the incremental path too
    joined = " ".join(t for _, t in inc_chunks)
    assert "alice@example.com" not in joined and "<EMAIL>" in joined


@pytest.mark.slow
def test_incremental_corpus_crash_replay_completes_state(spark, tmp_path, monkeypatch):
    """ADVICE r5 (medium): a crash BETWEEN the two state appends — exact-hash
    partition written, LSH index append lost — must not strand the state.
    The replay must reproduce the original verdicts (not reject the batch
    against its own half-written hashes, which would lose the band rows
    permanently) and complete the index append. Residue is duplicate shard
    delivery of the one in-flight batch; a replay AFTER full commit extends
    and delivers nothing."""
    import os
    from collections import Counter

    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline_incremental,
    )
    from f1_datalakehouse_pipeline_spark.sources.shards import read_training_shards
    from f1_datalakehouse_pipeline_spark.streaming import novelty as novelty_mod

    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the river bank"),
         (2, "an ordinary clean document describing parquet row group statistics")],
        ["doc_id", "text"],
    )
    b2 = spark.createDataFrame(
        [(10, "a genuinely novel piece about broadcast joins and executor memory sizing"),
         (11, "another clean document on shuffle partition sizing and spill thresholds")],
        ["doc_id", "text"],
    )
    b3 = spark.createDataFrame(
        [(20, "a genuinely novel piece about broadcast joins and executor memory sizing today"),
         (21, "another clean document on shuffle partition sizing and spill thresholds")],
        ["doc_id", "text"],
    )
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    kw = dict(quality_min=0.5, near_threshold=0.5, chunk_tokens=8,
              overlap_tokens=2, n_shards=4, seed="e0")

    run_corpus_pipeline_incremental(spark, b1, out, state, **kw)
    commits_dir = os.path.join(state, "_commits")
    assert len(os.listdir(commits_dir)) == 1

    # crash between the exact-hash write and the LSH index append
    real_append = novelty_mod._append_index

    def boom(*a, **k):
        raise RuntimeError("simulated crash before LSH append")

    monkeypatch.setattr(novelty_mod, "_append_index", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_corpus_pipeline_incremental(spark, b2, out, state, **kw)
    monkeypatch.setattr(novelty_mod, "_append_index", real_append)

    exact_dir = os.path.join(state, "exact_hashes")
    toks = [d for d in os.listdir(exact_dir) if d.startswith("batch_token=")]
    assert len(toks) == 2                       # B2's partition IS on disk
    assert len(os.listdir(commits_dir)) == 1    # ... but uncommitted

    # replay reproduces the original verdicts and completes the index append
    r2 = run_corpus_pipeline_incremental(spark, b2, out, state, **kw)
    assert r2.counts["after_exact_dedup"] == 2  # NOT 0: own partition excluded
    assert r2.counts["after_near_dedup"] == 2
    assert r2.audit_violations == 0
    assert len(os.listdir(commits_dir)) == 2

    # residue: B2's chunks delivered twice (the crash was after the shard
    # append); B1's exactly once; audit stays clean because the manifest was
    # extended by summation on both deliveries
    counts = Counter(r.chunk_id for r in read_training_shards(spark, out).collect())
    for cid, n in counts.items():
        assert n == (2 if (cid >> 12) in (10, 11) else 1), (cid, n)

    # the completed index rejects exact AND near duplicates of B2's docs
    r3 = run_corpus_pipeline_incremental(spark, b3, out, state, **kw)
    assert r3.counts["after_exact_dedup"] == 1  # 21 gone at the exact gate
    assert r3.counts["after_near_dedup"] == 0   # 20 gone at the LSH probe

    # a replay AFTER full commit extends nothing and delivers nothing
    before = Counter(r.chunk_id for r in read_training_shards(spark, out).collect())
    r2b = run_corpus_pipeline_incremental(spark, b2, out, state, **kw)
    assert r2b.counts["after_exact_dedup"] == 0 and r2b.counts["chunks"] == 0
    after = Counter(r.chunk_id for r in read_training_shards(spark, out).collect())
    assert before == after


def test_incremental_corpus_pipeline_empty_batches(spark, tmp_path):
    """A batch whose every doc is filtered out must deliver NOTHING without
    poisoning the output directory: a zero-row partitionBy write would leave
    a data/ dir no later read can infer a schema from. An all-rejected FIRST
    batch defers shard-set creation; admission resumes cleanly on the next
    real batch, and within-batch rejections still extend state."""
    import pytest as _pytest

    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline_incremental,
    )
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        write_training_shards,
    )

    junk = spark.createDataFrame(
        [(1, "!!! ??? ... ;;; ///" * 30), (2, "??? !!! ;;; ... ///" * 40)],
        ["doc_id", "text"],
    )
    good_text = "a genuinely novel piece about broadcast joins and executor memory"
    real = spark.createDataFrame(
        [(10, good_text), (11, "another clean document on shuffle partition sizing")],
        ["doc_id", "text"],
    )
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    kw = dict(quality_min=0.5, chunk_tokens=8, overlap_tokens=2, n_shards=4, seed="e0")

    r0 = run_corpus_pipeline_incremental(spark, junk, out, state, **kw)
    assert r0.counts["chunks"] == 0
    assert r0.shard_manifest == [] and r0.audit_violations == 0
    import os as _os

    assert not _os.path.isdir(_os.path.join(out, "data"))  # nothing poisoned

    r1 = run_corpus_pipeline_incremental(spark, real, out, state, **kw)
    assert r1.counts["chunks"] > 0 and r1.audit_violations == 0

    # an all-rejected LATER batch (exact dup of admitted history) appends
    # nothing and leaves the existing shard set audit-clean
    dup = spark.createDataFrame([(20, good_text)], ["doc_id", "text"])
    r2 = run_corpus_pipeline_incremental(spark, dup, out, state, **kw)
    assert r2.counts["after_exact_dedup"] == 0 and r2.counts["chunks"] == 0
    assert r2.shard_manifest == r1.shard_manifest and r2.audit_violations == 0

    # the raw sink refuses an empty write outright
    with _pytest.raises(ValueError, match="EMPTY shard set"):
        write_training_shards(
            junk.filter("doc_id < 0"), "doc_id", "text", str(tmp_path / "poison"), 4, "e0"
        )


@pytest.mark.parametrize(
    "compact_every,compact_max_files",
    [(None, None), (1, None), (None, 1)],
    ids=["no-compaction", "cadence", "threshold"],
)
@pytest.mark.slow
def test_corpus_ingest_stream_matches_batch_incremental(
    spark, tmp_path, compact_every, compact_max_files
):
    """The streaming front-end (corpus_ingest_stream: readStream →
    foreachBatch → run_corpus_pipeline_incremental) must deliver BYTE-EQUAL
    shards to the batch incremental path over the same two batches —
    including across a stream restart (the checkpoint + ledger carry the
    frontier), with the out-of-band audit clean. The per-batch audit is
    skipped by default in the stream (corpus-sized scan per micro-batch).
    Parametrized over the compaction triggers: in-stream state compaction is
    pure maintenance, so equality must survive both the fixed cadence (r6)
    and the file-count threshold (compact_max_files=1 fires after every
    batch — the maximal-churn case; r7)."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline_incremental,
    )
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        read_shard_manifest,
        read_training_shards,
        verify_training_shards,
    )
    from f1_datalakehouse_pipeline_spark.streaming.corpus_ingest import (
        corpus_ingest_stream,
    )

    good = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1_rows = [
        (1, good),
        (2, good),                                           # exact dup of 1
        (3, "an ordinary clean document describing parquet row group statistics"),
        (4, "!!! ??? ... ;;; ///" * 30),                     # low quality
    ]
    b2_rows = [
        (10, good),                                          # exact dup vs history
        (11, good + " indeed"),                              # near dup vs history
        (13, "email me at alice@example.com about the spark shuffle internals please"),
        (14, "a genuinely novel piece about broadcast joins and executor memory sizing"),
    ]
    b1 = spark.createDataFrame(b1_rows, ["doc_id", "text"])
    b2 = spark.createDataFrame(b2_rows, ["doc_id", "text"])
    kw = dict(
        quality_min=0.5, near_threshold=0.5,
        chunk_tokens=8, overlap_tokens=2, n_shards=4, seed="e0",
    )

    src = str(tmp_path / "src")
    s_out, s_state = str(tmp_path / "s_out"), str(tmp_path / "s_state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(b1.schema).parquet(src)
        q = corpus_ingest_stream(
            stream, s_out, s_state, ckpt,
            compact_every_batches=compact_every,
            compact_max_files=compact_max_files, **kw,
        )
        q.awaitTermination(120)

    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()  # restart: checkpoint + ledger resume past B1

    b_out, b_state = str(tmp_path / "b_out"), str(tmp_path / "b_state")
    run_corpus_pipeline_incremental(spark, b1, b_out, b_state, **kw)
    run_corpus_pipeline_incremental(spark, b2, b_out, b_state, **kw)

    m_s = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
           for r in read_shard_manifest(spark, s_out).collect()}
    m_b = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
           for r in read_shard_manifest(spark, b_out).collect()}
    assert m_s == m_b and m_s
    c_s = {(r.chunk_id, r.chunk_text) for r in read_training_shards(spark, s_out).collect()}
    c_b = {(r.chunk_id, r.chunk_text) for r in read_training_shards(spark, b_out).collect()}
    assert c_s == c_b
    # scrub reached the streamed deliveries; out-of-band audit is clean
    joined = " ".join(t for _, t in c_s)
    assert "alice@example.com" not in joined and "<EMAIL>" in joined
    assert verify_training_shards(spark, s_out, "chunk_text").count() == 0


def test_token_id_encoding_roundtrip_and_table_equivalence(spark):
    """Token-id encoding (VERDICT r4 item 8): map-literal expression and
    broadcast-join table form agree token-for-token; decode(encode(x)) == x
    for in-vocab text; unknowns go to unk_id/unk_token; empty docs yield
    empty arrays."""
    from f1_datalakehouse_pipeline_spark.functions.text import (
        decode_token_ids,
        encode_token_ids,
    )
    from f1_datalakehouse_pipeline_spark.operators.textstats import (
        encode_token_ids_with_table,
    )

    vocab = {"spark": 1, "shuffles": 2, "data": 3, "fast": 4}
    rows = [
        (1, "spark shuffles data fast"),
        (2, "spark mystery data"),       # 'mystery' is OOV
        (3, ""),                          # empty doc
        (4, "  fast   fast spark  "),     # whitespace hygiene + repeats
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    enc = {
        r.doc_id: r.ids
        for r in df.select(
            "doc_id", encode_token_ids(F.col("text"), vocab).alias("ids")
        ).collect()
    }
    assert enc == {1: [1, 2, 3, 4], 2: [1, 0, 3], 3: [], 4: [4, 4, 1]}

    vocab_df = spark.createDataFrame(list(vocab.items()), ["token", "token_id"])
    via_table = {
        r.doc_id: r.token_ids
        for r in encode_token_ids_with_table(
            df, "doc_id", "text", vocab_df
        ).collect()
    }
    assert via_table == enc

    dec = {
        r.doc_id: r.toks
        for r in df.select(
            "doc_id",
            decode_token_ids(
                encode_token_ids(F.col("text"), vocab), vocab, unk_token="<unk>"
            ).alias("toks"),
        ).collect()
    }
    assert dec[1] == ["spark", "shuffles", "data", "fast"]  # exact round-trip
    assert dec[2] == ["spark", "<unk>", "data"]
    assert dec[3] == []

    import pytest as _pytest
    with _pytest.raises(ValueError, match="duplicate id"):
        df.select(decode_token_ids(F.col("text"), {"a": 1, "b": 1}))


# ---------------------------------------------------------------------------
# Semantic (embedding-space) dedup — SemDeDup-style
# ---------------------------------------------------------------------------


def test_semantic_dedup_matches_numpy_brute_force(spark, sf_dir):
    """Engine flags == an independent numpy recomputation of the same
    semantics (centroid argmax-cosine assignment, within-cluster eps graph,
    greedy-by-id keeper) on the real embeddings table."""
    import numpy as np

    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    C = V[ids < 8]
    eps = 0.3

    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    cos_to_c = Vn @ Cn.T
    # argmax with ties to the LOWEST centroid id: np.argmax already takes
    # the first max.
    cluster = cos_to_c.argmax(axis=1)
    removed = set()
    for c in range(len(C)):
        members = ids[cluster == c]
        M = Vn[cluster == c]
        S = M @ M.T
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                if S[i, j] >= eps:
                    removed.add(int(max(members[i], members[j])))

    centroids = [list(v) for v in C]
    out = dedup.semantic_dedup_flags(emb, "vec_id", "embedding", centroids, eps)
    got = {r.vec_id: (r.cluster_id, r.kept) for r in out.collect()}
    assert len(got) == len(ids)
    n_mismatch_cluster = sum(
        1 for i, vid in enumerate(ids) if got[int(vid)][0] != cluster[i]
    )
    assert n_mismatch_cluster == 0
    for vid in ids:
        assert got[int(vid)][1] == (int(vid) not in removed), int(vid)
    # sanity: this corpus actually exercises both branches
    assert 0 < len(removed) < len(ids)


def test_semantic_chained_middle_member_divergence_planted(spark):
    """Pin the documented chained-middle-member divergence (plans/corpus.py
    equivalence contract; measured at scale in PERF_NOTES.md, "r8
    semantic-divergence measurement") on a PLANTED minimal chain: unit vectors a(id 1),
    b(id 2) ∈ B1 and c(id 10) ∈ B2 in one cluster with cos(a,b) = cos(b,c)
    = 0.9 ≥ eps = 0.8 but cos(a,c) = 0.62 < eps. One-shot greedy removes b
    (via a) AND c (via the REJECTED b); the incremental contract removes b
    within B1, admits c — its only eps-remover was never admitted. This is
    the one-sided over-admission the divergence rung counts, and why
    t_corpus_manifest_semantic's oracle encodes the incremental contract
    rather than the one-shot rule."""
    import math

    th = math.acos(0.9)
    a = [1.0, 0.0, 0.0]
    b = [math.cos(th), math.sin(th), 0.0]
    c = [math.cos(2 * th), math.sin(2 * th), 0.0]
    eps, cents = 0.8, [[1.0, 0.0, 0.0]]

    full = spark.createDataFrame(
        [(1, a), (2, b), (10, c)], ["vec_id", "embedding"]
    )
    oneshot_removed = {
        r.vec_id
        for r in dedup.semantic_dedup_flags(
            full, "vec_id", "embedding", cents, eps
        ).collect()
        if not r.kept
    }
    assert oneshot_removed == {2, 10}  # the chain removes c through rejected b

    # incremental: B1 within-batch, members = admitted only, B2 history probe
    b1 = spark.createDataFrame([(1, a), (2, b)], ["vec_id", "embedding"])
    b1_removed = {
        r.vec_id
        for r in dedup.semantic_dedup_flags(
            b1, "vec_id", "embedding", cents, eps
        ).collect()
        if not r.kept
    }
    assert b1_removed == {2}
    members = dedup.semantic_assignment(
        b1.filter(F.col("vec_id") == 1), "vec_id", "embedding", cents
    )
    b2 = spark.createDataFrame([(10, c)], ["vec_id", "embedding"])
    b2_asg = dedup.semantic_assignment(b2, "vec_id", "embedding", cents)
    hist_hits = {
        r.vec_id
        for r in dedup.semantic_history_hits(
            b2_asg, members, "vec_id", eps
        ).collect()
    }
    assert hist_hits == set()  # admitted member a is outside eps of c
    # divergence = exactly the chained tail, one-sided (inc ⊆ one-shot)
    inc_removed = b1_removed | hist_hits
    assert oneshot_removed - inc_removed == {10}
    assert inc_removed <= oneshot_removed


def test_semantic_assign_tie_breaks_to_lowest_centroid(spark):
    """Exact-tie cosines (duplicate centroids) must resolve to the LOWEST
    centroid id — the documented struct-max/-cid trick."""
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"])
    cents = [[0.0, 2.0], [1.0, 1.0], [0.0, 2.0]]  # 0 and 2 identical
    out = {r.vec_id: r.cluster_id for r in
           dedup.semantic_cluster_assign(df, "vec_id", "embedding", cents).collect()}
    assert out[2] == 0  # ties with centroid 2 but 0 wins
    assert out[1] == 1


def test_semantic_dedup_keeps_cluster_min_id(spark, sf_dir):
    """The greedy-by-id rule can never remove the lowest id of a cluster."""
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = [list(r[0]) for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id")
             .select(F.col("embedding").cast("array<double>")).collect()]
    out = dedup.semantic_dedup_flags(emb, "vec_id", "embedding", seeds, 0.3)
    mins = out.groupBy("cluster_id").agg(F.min("vec_id").alias("m"))
    bad = out.join(mins, (out.cluster_id == mins.cluster_id)
                   & (out.vec_id == mins.m) & (~out.kept))
    assert bad.count() == 0


def test_semantic_assign_table_equals_literal(spark, sf_dir):
    """The broadcast-join assignment (large-k scale path) must agree exactly
    with the literal-expression form — cluster ids AND cosines — including
    on duplicate-centroid exact ties, and semantic_dedup_flags must accept
    either centroid representation with identical output."""
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [list(r[0]) for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id")
             .select(F.col("embedding").cast("array<double>")).collect()]
    cents = cents + [cents[0]]  # duplicate → exact-tie path exercised
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], ["cluster_id", "centroid"]
    )

    lit_rows = {
        r.vec_id: (r.cluster_id, r.centroid_cos)
        for r in dedup.semantic_cluster_assign(emb, "vec_id", "embedding", cents)
        .select("vec_id", "cluster_id", "centroid_cos").collect()
    }
    tbl_rows = {
        r.vec_id: (r.cluster_id, r.centroid_cos)
        for r in dedup.semantic_cluster_assign_table(emb, "vec_id", "embedding", cdf)
        .select("vec_id", "cluster_id", "centroid_cos").collect()
    }
    assert lit_rows == tbl_rows

    flags_lit = {tuple(r) for r in dedup.semantic_dedup_flags(
        emb, "vec_id", "embedding", cents, 0.3).collect()}
    flags_tbl = {tuple(r) for r in dedup.semantic_dedup_flags(
        emb, "vec_id", "embedding", cdf, 0.3).collect()}
    assert flags_lit == flags_tbl


def test_centroid_norm_bit_equals_spark_fold(spark):
    """r11 opt: the assignment tiers hoist each literal centroid's norm to a
    plan-time Python constant (dedup._centroid_norm). The hoist is only
    oracle-safe if that constant is BIT-equal to the similarity.norm
    sequential fold it replaced — pin it on awkward values (irrational
    squares, tiny/huge magnitudes, sign mixes, empty)."""
    vecs = [
        [0.1, 0.2, 0.3],
        [1e-8, -3.7e5, 0.333333333333333, 2.0 / 3.0],
        [math.pi, -math.e, math.sqrt(2.0)],
        [5.0e150, 1.0e-200],  # extreme magnitudes, no overflow in x*x at 5e150? (2.5e301 ok)
        [],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i long, v array<double>"
    )
    spark_norms = {
        r.i: r.n
        for r in df.select("i", similarity.norm(F.col("v")).alias("n")).collect()
    }
    for i, v in enumerate(vecs):
        assert struct.pack("<d", spark_norms[i]) == struct.pack(
            "<d", dedup._centroid_norm(v)
        ), f"norm mismatch on {v}"


def test_semantic_assign_table_duplicate_id_guard(spark):
    """ADVICE r5: the table tier aggregates per id, so duplicate-id
    rows with CONFLICTING vectors must raise loudly instead of silently
    collapsing to one arbitrary vector (the literal tier preserves every
    row, so a silent collapse would make the 'equivalence-tested' tiers
    disagree). Duplicate rows carrying the SAME vector collapse harmlessly."""
    from pyspark.errors import SparkRuntimeException

    cdf = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["cluster_id", "centroid"]
    )
    conflicting = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.5, 0.5])],
        ["vec_id", "embedding"],
    )
    with pytest.raises(SparkRuntimeException, match="CONFLICTING"):
        dedup.semantic_cluster_assign_table(
            conflicting, "vec_id", "embedding", cdf
        ).collect()

    benign = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.5, 0.5])],
        ["vec_id", "embedding"],
    )
    rows = {r.vec_id: r.cluster_id for r in dedup.semantic_cluster_assign_table(
        benign, "vec_id", "embedding", cdf).collect()}
    assert rows == {1: 0, 2: 0}


def test_semantic_dedup_lsh_banding_properties(spark, sf_dir):
    """Within-cluster LSH banding contract: (1) a single EMPTY band puts
    everything in one bucket and must equal the exact all-pairs form
    bit-for-bit; (2) real planes can only MISS duplicates, never invent
    them — removed_lsh ⊆ removed_exact; (3) on this corpus the banded form
    still finds most of the exact removals (recall sanity, not vacuous)."""
    from f1_datalakehouse_pipeline_spark.registry_ext import _lsh_planes
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [list(r[0]) for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id")
             .select(F.col("embedding").cast("array<double>")).collect()]

    exact = {tuple(r) for r in dedup.semantic_dedup_flags(
        emb, "vec_id", "embedding", cents, 0.3).collect()}
    degenerate = {tuple(r) for r in dedup.semantic_dedup_flags(
        emb, "vec_id", "embedding", cents, 0.3, lsh_planes=[[]]).collect()}
    assert degenerate == exact

    planes = _lsh_planes(n=2)
    banded = dedup.semantic_dedup_flags(
        emb, "vec_id", "embedding", cents, 0.3,
        lsh_planes=[planes[:1], planes[1:2]],
    ).collect()
    removed_exact = {r[0] for r in exact if not r[2]}
    removed_lsh = {r.vec_id for r in banded if not r.kept}
    assert removed_lsh <= removed_exact
    assert len(banded) == len(exact)  # every row still flagged
    assert len(removed_lsh) >= 0.5 * len(removed_exact)


def test_semantic_dedup_precomputed_assignment(spark, sf_dir):
    """centroids=None flags from a df that already carries cluster_id (the
    persisted-assignment production shape) and must equal the lazy
    literal-centroid form exactly."""
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [list(r[0]) for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id")
             .select(F.col("embedding").cast("array<double>")).collect()]
    lazy = {tuple(r) for r in dedup.semantic_dedup_flags(
        emb, "vec_id", "embedding", cents, 0.3).collect()}
    staged = dedup.semantic_cluster_assign(emb, "vec_id", "embedding", cents)
    pre = {tuple(r) for r in dedup.semantic_dedup_flags(
        staged, "vec_id", "embedding", None, 0.3).collect()}
    assert pre == lazy


def test_corpus_pipeline_semantic_stage(spark, tmp_path):
    """The opt-in semantic stage removes exactly the planted embedding-space
    twin (distinct TEXT, so every shingle-family stage keeps it), keeps docs
    with no embedding row, and a half-configured stage fails loudly."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import run_corpus_pipeline

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "a fast auburn fox leaps above a sleepy hound beside the water edge"),
        (3, "completely unrelated treatise on medieval naval architecture and rigging"),
        (4, "another document with no embedding row that must pass straight through"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.2]),
            (2, [0.99, 0.01, 0.2]),   # semantic twin of doc 1
            (3, [0.0, 1.0, -0.3]),
            # doc 4 deliberately absent
        ],
        ["vec_id", "embedding"],
    )
    centroids = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    common = dict(
        quality_min=0.0, near_threshold=0.95,
        chunk_tokens=8, overlap_tokens=0, n_shards=2, seed="sem",
    )

    with pytest.raises(ValueError, match="TOGETHER"):
        run_corpus_pipeline(
            spark, docs, str(tmp_path / "half"), embeddings=emb, **common
        )

    rep = run_corpus_pipeline(
        spark, docs, str(tmp_path / "sem"),
        embeddings=emb, semantic_eps=0.99, semantic_centroids=centroids,
        **common,
    )
    assert rep.counts["after_near_dedup"] == 4          # text dedup sees no dup
    assert rep.counts["after_semantic_dedup"] == 3      # exactly the twin drops
    assert rep.audit_violations == 0
    from f1_datalakehouse_pipeline_spark.sources.shards import read_training_shards

    words = set(" ".join(
        r.chunk_text for r in read_training_shards(spark, str(tmp_path / "sem")).collect()
    ).split())
    assert "quick" in words        # doc 1 (keeper, lower id) shipped
    assert "auburn" not in words   # doc 2 (twin) removed
    assert "treatise" in words     # unrelated embedded doc kept
    assert "straight" in words     # no-embedding doc passed through


@pytest.mark.slow
def test_incremental_corpus_semantic_stage_equals_one_shot(spark, tmp_path):
    """VERDICT r6 item 2: the semantic-dedup stage wired into the INGESTION
    path. B1-then-B2 with embeddings must (a) reject a B2 doc whose text is
    novel but whose embedding sits within eps of an ADMITTED B1 doc (the
    cross-batch rewording the shingle family cannot see), (b) apply the
    within-batch greedy-by-id rule inside B2, (c) deliver manifest- and
    chunk-identical output to the one-shot pipeline over B1∪B2, and (d)
    refuse a later batch presenting DIFFERENT centroids (the persisted
    cluster ids are only meaningful under the originals)."""
    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline,
        run_corpus_pipeline_incremental,
    )
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        read_shard_manifest,
        read_training_shards,
    )

    b1_rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "an ordinary clean document describing parquet row group statistics"),
        (3, "!!! ??? ... ;;; ///" * 30),                     # low quality
    ]
    b2_rows = [
        (10, "a fast auburn fox leaps above a sleepy hound beside the water"),  # rewording of 1
        (11, "a genuinely novel piece about broadcast joins and executor sizing"),
        (12, "first of a same-meaning pair arriving together in batch number two"),
        (13, "second of a same-meaning pair inside this batch worded differently"),
        (14, "a document with no embedding row that must pass straight through"),
    ]
    emb_rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (10, [0.999, 0.01, 0.0]),    # cross-batch twin of admitted doc 1
        (11, [0.0, 0.0, 1.0]),
        (12, [0.6, 0.8, 0.0]),       # within-B2 twin pair: 12 (min id) kept,
        (13, [0.61, 0.79, 0.0]),     # 13 removed
        # doc 14 deliberately absent
    ]
    b1 = spark.createDataFrame(b1_rows, ["doc_id", "text"])
    b2 = spark.createDataFrame(b2_rows, ["doc_id", "text"])
    union = spark.createDataFrame(b1_rows + b2_rows, ["doc_id", "text"])
    emb = spark.createDataFrame(emb_rows, ["vec_id", "embedding"])
    centroids = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    kw = dict(
        quality_min=0.5, near_threshold=0.5, chunk_tokens=8, overlap_tokens=2,
        n_shards=4, seed="sem-e0",
        embeddings=emb, semantic_eps=0.99, semantic_centroids=centroids,
    )

    inc_out, state = str(tmp_path / "inc_out"), str(tmp_path / "state")
    r1 = run_corpus_pipeline_incremental(spark, b1, inc_out, state, **kw)
    assert r1.counts["after_near_dedup"] == 2
    assert r1.counts["after_semantic_dedup"] == 2   # 1 and 2 are far apart

    r2 = run_corpus_pipeline_incremental(spark, b2, inc_out, state, **kw)
    assert r2.counts["after_near_dedup"] == 5       # all B2 texts are novel
    # 10 removed by the HISTORY probe (twin of admitted 1), 13 removed by
    # the within-batch rule (twin of 12, higher id); 14 (no embedding) kept
    assert r2.counts["after_semantic_dedup"] == 3
    assert r2.audit_violations == 0

    one_out = str(tmp_path / "one_out")
    run_corpus_pipeline(spark, union, one_out, **kw)
    m_inc = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
             for r in read_shard_manifest(spark, inc_out).collect()}
    m_one = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
             for r in read_shard_manifest(spark, one_out).collect()}
    assert m_inc == m_one and m_inc
    inc_chunks = {(r.chunk_id, r.chunk_text)
                  for r in read_training_shards(spark, inc_out).collect()}
    one_chunks = {(r.chunk_id, r.chunk_text)
                  for r in read_training_shards(spark, one_out).collect()}
    assert inc_chunks == one_chunks
    words = set(" ".join(t for _, t in inc_chunks).split())
    assert "quick" in words and "auburn" not in words     # cross-batch twin gone
    assert "first" in words and "second" not in words     # within-batch rule
    assert "straight" in words                            # no-embedding doc kept

    # a half-configured stage fails loudly, like the batch form
    with pytest.raises(ValueError, match="TOGETHER"):
        run_corpus_pipeline_incremental(
            spark, b2, inc_out, state,
            quality_min=0.5, near_threshold=0.5, embeddings=emb,
        )
    # different centroids against the same state root are refused BEFORE
    # any state is touched
    with pytest.raises(ValueError, match="fingerprint"):
        run_corpus_pipeline_incremental(
            spark, b2, inc_out, state,
            **{**kw, "semantic_centroids": [[0.0, 0.0, 1.0], [0.0, 1.0, 0.0]]},
        )


@pytest.mark.slow
def test_incremental_semantic_state_compaction_and_replay(
    spark, tmp_path, monkeypatch
):
    """The semantic member store participates in the same maintenance and
    crash contracts as the other state stores: compact_corpus_state folds
    its committed batch_token partitions (probe verdicts unchanged — the
    store is duplicate-tolerant), and a crash between the semantic write
    and the LSH append replays to identical verdicts (own-token partitions
    excluded from BOTH the exact and semantic probes)."""
    import os as _os

    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        compact_corpus_state,
        run_corpus_pipeline_incremental,
    )
    from f1_datalakehouse_pipeline_spark.streaming import novelty as novelty_mod

    texts = {
        1: "the quick brown fox jumps over the lazy dog near the river bank",
        2: "an ordinary clean document describing parquet row group statistics",
        10: "a genuinely novel piece about broadcast joins and executor sizing",
        20: "a rewording in embedding space of the very first admitted document",
        21: "a fresh unrelated note on columnar compression codecs and encodings",
    }
    vecs = {
        1: [1.0, 0.0, 0.0],
        2: [0.0, 1.0, 0.0],
        10: [0.0, 0.0, 1.0],
        20: [0.999, 0.01, 0.0],   # twin of doc 1, admitted two batches ago
        21: [0.5, -0.8, 0.1],
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    centroids = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    kw = dict(
        quality_min=0.5, near_threshold=0.5, chunk_tokens=8, overlap_tokens=2,
        n_shards=4, seed="sem-e0",
        embeddings=emb, semantic_eps=0.99, semantic_centroids=centroids,
    )
    out, state = str(tmp_path / "out"), str(tmp_path / "state")

    def batch(*ids):
        return spark.createDataFrame(
            [(i, texts[i]) for i in ids], ["doc_id", "text"]
        )

    run_corpus_pipeline_incremental(spark, batch(1, 2), out, state, **kw)
    run_corpus_pipeline_incremental(spark, batch(10), out, state, **kw)
    sem_dir = _os.path.join(state, "semantic")
    parts = [d for d in _os.listdir(sem_dir) if d.startswith("batch_token=")]
    assert len(parts) == 2

    stats = compact_corpus_state(spark, state)
    assert stats["semantic"]["folded_partitions"] == 2
    parts = [d for d in _os.listdir(sem_dir) if d.startswith("batch_token=")]
    assert len(parts) == 1 and parts[0].startswith("batch_token=__compacted_")

    # crash between the semantic member write and the LSH append: exact AND
    # semantic own-token partitions are on disk, uncommitted
    real_append = novelty_mod._append_index

    def boom(*a, **k):
        raise RuntimeError("simulated crash before LSH append")

    monkeypatch.setattr(novelty_mod, "_append_index", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_corpus_pipeline_incremental(spark, batch(20, 21), out, state, **kw)
    monkeypatch.setattr(novelty_mod, "_append_index", real_append)
    assert len([d for d in _os.listdir(sem_dir) if d.startswith("batch_token=")]) == 2

    # replay: 20 must STILL be rejected by the folded history (not by its
    # own half-committed members, which are excluded), 21 admitted
    r = run_corpus_pipeline_incremental(spark, batch(20, 21), out, state, **kw)
    assert r.counts["after_near_dedup"] == 2
    assert r.counts["after_semantic_dedup"] == 1
    # and a post-commit replay is rejected whole at the exact gate
    r2 = run_corpus_pipeline_incremental(spark, batch(20, 21), out, state, **kw)
    assert r2.counts["after_exact_dedup"] == 1   # 20's text was never delivered
    assert r2.counts["after_semantic_dedup"] == 0


@pytest.mark.slow
def test_incremental_corpus_wap_gate_quarantine_and_critical_abort(spark, tmp_path):
    """VERDICT r8 item 4: the corpus ingest admission runs through the SAME
    audit_split battery as dq_expectations / the streaming gate. A planted
    per-row violation is quarantined with its check names while clean rows
    deliver; a planted CRITICAL violation quarantines the WHOLE batch with
    per-check metrics and leaves shards, manifest and every state store
    untouched; ingest continues normally afterwards."""
    import os

    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline_incremental,
    )

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    CHECKS = lambda: {  # noqa: E731 — fresh Column objects per call
        "text_not_null": F.col("text").isNull(),
        "id_positive": F.col("doc_id") <= 0,
    }
    kw = dict(
        quality_min=0.0, near_threshold=0.5, chunk_tokens=8, overlap_tokens=2,
        n_shards=4, seed="e0", max_doc_frequency=64,
        wap_critical={"id_positive"},
    )
    texts = [
        "alpha document about spark adaptive query execution and skew joins",
        "beta document describing parquet dictionary encoding and row groups",
        "gamma document on broadcast hash joins and shuffle partition tuning",
        "delta document covering watermarking state stores and output modes",
    ]

    def run(rows):
        return run_corpus_pipeline_incremental(
            spark,
            spark.createDataFrame(rows, "doc_id long, text string"),
            out, state, wap_checks=CHECKS(), **kw,
        )

    # batch 1: clean → publishes
    r1 = run([(1, texts[0]), (2, texts[1])])
    assert r1.wap_quarantined == 0 and not r1.wap_batch_quarantined
    assert r1.counts["after_near_dedup"] == 2
    markers = lambda: len(os.listdir(os.path.join(state, "_commits")))  # noqa: E731
    assert markers() == 1

    # batch 2: one NULL-text violator (non-critical) + one clean row
    r2 = run([(10, None), (11, texts[2])])
    assert r2.wap_quarantined == 1 and not r2.wap_batch_quarantined
    assert r2.wap_metrics == {"text_not_null": (1, 2), "id_positive": (0, 2)}
    assert r2.counts["raw"] == 2 and r2.counts["after_quality"] == 1
    assert markers() == 2
    quar = spark.read.parquet(os.path.join(state, "quarantine"))
    assert [(r.doc_id, sorted(r.violated_checks)) for r in quar.collect()] == [
        (10, ["text_not_null"])
    ]

    # batch 3: CRITICAL violation → whole batch quarantined, nothing published
    r3 = run([(0, texts[3]), (20, texts[3] + " with a unique suffix here")])
    assert r3.wap_batch_quarantined and r3.wap_quarantined == 2
    assert r3.wap_metrics["id_positive"] == (1, 2)
    assert "after_quality" not in r3.counts  # pipeline never entered
    assert markers() == 2  # no state commit
    quar_all = spark.read.parquet(os.path.join(state, "quarantine"))
    q3 = {(r.doc_id, tuple(sorted(r.violated_checks))) for r in quar_all.collect()}
    assert (0, ("id_positive",)) in q3
    assert (20, ()) in q3  # clean row of the aborted batch, empty check list
    mets = spark.read.parquet(os.path.join(state, "wap_metrics"))
    assert mets.filter(F.col("batch_quarantined")).count() == 2  # 2 checks × 1 batch

    # batch 4: clean again → the gate did not wedge the ingest
    r4 = run([(30, texts[3])])
    assert r4.counts["after_near_dedup"] == 1 and markers() == 3
    assert r4.audit_violations == 0
