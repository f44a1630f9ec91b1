"""Property-based invariants (hypothesis) for the core custom operators.

SCD2 build and Jaccard dedup must hold their invariants for ANY observation
stream, not just the curated fixtures (SURVEY §5.2.3). Examples are kept
small and the Spark session is reused, so each property runs in seconds.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from f1_datalakehouse_pipeline_spark.operators.scd2 import scd2_from_observations

# (entity, attr, time) observation streams: few entities/attrs, unique seq ids
obs_streams = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # entity
        st.sampled_from(["A", "B", "C"]),               # attr
        st.integers(min_value=0, max_value=20),          # time
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(stream=obs_streams)
def test_scd2_invariants_hold_for_any_stream(spark, stream):
    rows = [(e, a, t, i) for i, (e, a, t) in enumerate(stream)]
    df = spark.createDataFrame(rows, ["entity", "attr", "t", "seq"])
    dim = scd2_from_observations(
        df, entity_col="entity", attr_col="attr", order_cols=["t", "seq"], time_col="t"
    ).collect()

    by_entity: dict[int, list] = {}
    for r in dim:
        by_entity.setdefault(r.entity, []).append(r)

    entities = {e for e, _, _ in stream}
    assert set(by_entity) == entities

    for e, stints in by_entity.items():
        stints.sort(key=lambda r: r.stint_id)
        # exactly one open stint, and it is the last one
        open_rows = [r for r in stints if r.is_current]
        assert len(open_rows) == 1 and open_rows[0].stint_id == stints[-1].stint_id
        # stint ids contiguous from 1
        assert [r.stint_id for r in stints] == list(range(1, len(stints) + 1))
        # adjacent stints: different attr, contiguous validity, ordered times
        for prev, nxt in zip(stints, stints[1:]):
            assert prev.attr != nxt.attr
            assert prev.valid_to == nxt.valid_from
            assert prev.valid_from <= nxt.valid_from
        # n_obs adds up to the entity's observation count
        assert sum(r.n_obs for r in stints) == sum(1 for x, _, _ in stream if x == e)


docs_strategy = st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=30),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(texts=docs_strategy)
def test_jaccard_bounds_and_symmetry(spark, texts):
    from f1_datalakehouse_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", k=1, threshold=0.0).collect()
    seen = set()
    for r in pairs:
        assert r.doc_a < r.doc_b               # canonical orientation, no dupes
        assert (r.doc_a, r.doc_b) not in seen
        seen.add((r.doc_a, r.doc_b))
        assert 0.0 < r.jaccard <= 1.0
        # identical token sets ⇒ jaccard exactly 1
        ta = set(texts[r.doc_a].split())
        tb = set(texts[r.doc_b].split())
        if ta == tb and ta:
            assert r.jaccard == 1.0


def _py_calculate_time_millis(time_str):
    """Independent Python port of the reference parser (common.py:145-206) —
    the ground truth the native expression must agree with on ANY string."""
    if not time_str or time_str == "":
        return None
    try:
        time_str = time_str.strip()
        if time_str.count(":") == 2:
            parts = time_str.split(":")
            hours, minutes = int(parts[0]), int(parts[1])
            sp = parts[2].split(".")
            seconds = int(sp[0])
            millis = int(sp[1]) if len(sp) > 1 else 0
            return hours * 3600000 + minutes * 60000 + seconds * 1000 + millis
        elif time_str.count(":") == 1:
            parts = time_str.split(":")
            minutes = int(parts[0])
            sp = parts[1].split(".")
            seconds = int(sp[0])
            millis = int(sp[1]) if len(sp) > 1 else 0
            return minutes * 60000 + seconds * 1000 + millis
        elif "." in time_str:
            sp = time_str.split(".")
            return int(sp[0]) * 1000 + int(sp[1])
        else:
            return int(float(time_str) * 1000)
    except (ValueError, IndexError, AttributeError):
        return None


time_strings = st.one_of(
    st.from_regex(r"\A[0-9]{1,2}:[0-9]{1,2}:[0-9]{1,2}(\.[0-9]{1,6})?\Z"),
    st.from_regex(r"\A[0-9]{1,3}:[0-9]{1,2}(\.[0-9]{1,6})?\Z"),
    st.from_regex(r"\A[0-9]{1,5}(\.[0-9]{1,4})?\Z"),
    st.text(max_size=12),  # arbitrary garbage
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(strings=st.lists(time_strings, min_size=1, max_size=20))
def test_time_parser_matches_reference_port(spark, strings):
    from pyspark.sql import functions as F

    from f1_datalakehouse_pipeline_spark.functions.f1 import time_string_to_millis

    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], ["i", "s"])
    got = {
        r.i: r.ms
        for r in df.select("i", time_string_to_millis(F.col("s")).alias("ms")).collect()
    }
    for i, s in enumerate(strings):
        want = _py_calculate_time_millis(s)
        # documented deviation: exotic float()-parseable forms (e.g. '1e3',
        # unicode digits, signs, inf/nan) are NULL natively
        stripped = s.strip() if isinstance(s, str) else s
        if want is not None and stripped and not __import__("re").fullmatch(
            r"[0-9]+(:[0-9]+){0,2}(\.[0-9]+)?", stripped
        ):
            continue
        assert got[i] == want, (s, got[i], want)


# (n_tokens per doc, chunk_tokens, overlap_tokens) — chunking must hold its
# reconstruction/shape invariants for ANY document length and window config
chunk_cases = st.tuples(
    st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=5),
    st.integers(min_value=2, max_value=20),   # chunk_tokens
    st.integers(min_value=0, max_value=18),   # overlap_tokens (< chunk)
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=chunk_cases)
def test_chunking_invariants_hold_for_any_config(spark, case):
    from f1_datalakehouse_pipeline_spark.operators.textstats import chunk_documents

    lengths, chunk, overlap = case
    if overlap >= chunk:
        overlap = chunk - 1
    stride = chunk - overlap
    rows = [(i, " ".join(f"t{i}x{j}" for j in range(n))) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, "doc_id", "text", chunk, overlap).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(lengths):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        # chunk indices contiguous from 0; every doc emits ≥1 chunk
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        # expected chunk count from the documented formula
        assert len(chunks) == 1 + max(n - chunk + stride - 1, 0) // stride
        # each chunk matches its slice of the source; stitching restores it
        toks = rows[i][1].split()
        stitched: list = []
        for c in chunks:
            got = c.chunk_text.split()
            start = c.chunk_idx * stride
            assert got == toks[start : start + chunk]
            assert c.n_chunk_tokens == len(got)
            stitched += got if c.chunk_idx == 0 else got[overlap:]
        assert stitched == toks


mix_cases = st.tuples(
    st.lists(  # (domain_index, n_tokens) per doc
        st.tuples(st.integers(min_value=0, max_value=3), st.integers(min_value=0, max_value=50)),
        min_size=1,
        max_size=60,
    ),
    st.lists(st.integers(min_value=0, max_value=300), min_size=4, max_size=4),  # budgets
    st.sampled_from([1, 2, 8, 64, 4096]),  # n_buckets
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=mix_cases)
def test_budgeted_mixture_equals_naive_for_any_corpus(spark, case):
    """The two-phase bucketed mixture must equal the naive per-domain window
    for ANY corpus shape, budget vector, and bucket count — including empty
    domains, zero budgets, zero-token docs, and budgets exceeding a domain's
    total mass."""
    from f1_datalakehouse_pipeline_spark.operators.mixture import (
        budgeted_mixture,
        budgeted_mixture_naive,
    )

    doc_specs, budget_vals, n_buckets = case
    rows = [(i, f"d{dom}", n) for i, (dom, n) in enumerate(doc_specs)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])
    budgets = {f"d{i}": b for i, b in enumerate(budget_vals[:3])}  # d3 unlisted
    fast = sorted(
        map(tuple, budgeted_mixture(df, "doc_id", "source", "n_tokens", budgets, n_buckets=n_buckets).collect())
    )
    naive = sorted(
        map(tuple, budgeted_mixture_naive(df, "doc_id", "source", "n_tokens", budgets).collect())
    )
    assert fast == naive
    for _, dom, n, cum in fast:
        assert dom in budgets and 0 < n <= cum <= budgets[dom]


# (doc texts, split points): arbitrary small corpora delivered in 1-4 batches
shard_corpora = st.tuples(
    st.lists(
        st.text(
            alphabet="abcdef XYZ",  # spaces → multi-token docs
            min_size=1,
            max_size=30,
        ).filter(str.strip),
        min_size=1,
        max_size=14,
    ),
    st.lists(st.integers(min_value=1, max_value=13), max_size=3, unique=True),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=shard_corpora)
@pytest.mark.slow
def test_shard_append_chain_equals_one_shot_for_any_split(spark, tmp_path_factory, case):
    """For ANY corpus and ANY batch split, delivering the batches through an
    append chain must produce the same manifest (rows, tokens, checksum per
    shard) and the same (id, content) set as one one-shot write — the
    manifest-by-summation design's core claim. Positions must remain a total
    replay order per shard with old-batch content strictly first."""
    from f1_datalakehouse_pipeline_spark.sources.shards import (
        append_training_shards,
        read_shard_manifest,
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )

    texts, raw_splits = case
    rows = [(i, t) for i, t in enumerate(texts)]
    splits = sorted({s for s in raw_splits if s < len(rows)})
    bounds = [0, *splits, len(rows)]
    batches = [rows[a:b] for a, b in zip(bounds, bounds[1:]) if a < b]

    tmp = tmp_path_factory.mktemp("shard_prop")
    one_out, inc_out = str(tmp / "one"), str(tmp / "inc")
    df_all = spark.createDataFrame(rows, ["doc_id", "text"])
    write_training_shards(df_all, "doc_id", "text", one_out, 3, "p")

    for bi, batch in enumerate(batches):
        bdf = spark.createDataFrame(batch, ["doc_id", "text"])
        if bi == 0:
            write_training_shards(bdf, "doc_id", "text", inc_out, 3, "p")
        else:
            append_training_shards(bdf, "doc_id", "text", inc_out, "p")

    m_one = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
             for r in read_shard_manifest(spark, one_out).collect()}
    m_inc = {r.shard_id: (r.n_rows, r.n_tokens, r.checksum)
             for r in read_shard_manifest(spark, inc_out).collect()}
    assert m_inc == m_one

    inc_rows = read_training_shards(spark, inc_out).collect()
    one_rows = read_training_shards(spark, one_out).collect()
    assert {(r.doc_id, r.text) for r in inc_rows} == {(r.doc_id, r.text) for r in one_rows}
    # per shard: positions are a dense 1-based total order (row_number)
    by_shard: dict[int, list] = {}
    for r in inc_rows:
        by_shard.setdefault(r.shard_id, []).append(r)
    batch_of = {i: bi for bi, batch in enumerate(batches) for i, _ in batch}
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.pos_in_shard)
        assert [r.pos_in_shard for r in rs] == list(range(1, len(rs) + 1))
        # replay order never interleaves batches: batch index is monotone
        bseq = [batch_of[r.doc_id] for r in rs]
        assert bseq == sorted(bseq)
    assert verify_training_shards(spark, inc_out, "text").count() == 0
