"""Materialized MinHash-LSH index (CREATE INDEX ... USING minhash):
stored band table equals the direct signature pipeline, mutations
re-band only touched docs, probe lookup finds near-dups of new text."""

import pytest
from pyspark.sql import Row, functions as F

from snappydata_spark import dedup, index_minhash


@pytest.fixture()
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        Row(doc_id=1, text=base * 3),
        Row(doc_id=2, text=(base * 3) + " zzz"),  # near-dup of 1
        Row(doc_id=3, text="completely different content about spark "
                           "query engines and columnar storage designs " * 2),
        Row(doc_id=4, text="short"),  # < 3 tokens of shingle: excluded
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def indexed(snappy, corpus):
    snappy.create_table("mh_docs", options={"key_columns": "doc_id"}, df=corpus)
    snappy.sql("CREATE INDEX mh_idx ON mh_docs(text) USING minhash")
    return snappy


def test_pairs_match_direct_pipeline(indexed, corpus):
    direct = {
        (r.doc1, r.doc2)
        for r in dedup.minhash_lsh_candidates(corpus).collect()
    }
    from_index = {
        (r.doc1, r.doc2)
        for r in index_minhash.candidate_pairs(indexed, "mh_idx").collect()
    }
    assert from_index == direct
    assert (1, 2) in from_index


def test_put_rebands_only_touched_docs(indexed, spark):
    """PUT of a near-dup doc must surface a new candidate pair; the
    band rows of untouched docs must be byte-identical afterwards."""
    before = {
        (r.doc_id, r.band): r.band_hash
        for r in indexed.table("mh_idx__ann").collect()
    }
    base_text = indexed.table("mh_docs").filter("doc_id = 3").collect()[0].text
    src = spark.createDataFrame(
        [Row(doc_id=10, text=base_text + " extra")]
    )
    indexed.put("mh_docs", src)
    after = {
        (r.doc_id, r.band): r.band_hash
        for r in indexed.table("mh_idx__ann").collect()
    }
    assert all(after[k] == v for k, v in before.items())
    assert any(k[0] == 10 for k in after)
    pairs = {
        (r.doc1, r.doc2)
        for r in index_minhash.candidate_pairs(indexed, "mh_idx").collect()
    }
    assert (3, 10) in pairs


def test_delete_prunes_bands(indexed, spark):
    victim = spark.createDataFrame([Row(doc_id=2)])
    indexed.delete_from("mh_docs", victim)
    assert (
        indexed.table("mh_idx__ann").filter("doc_id = 2").count() == 0
    )
    pairs = index_minhash.candidate_pairs(indexed, "mh_idx").collect()
    assert all(r.doc1 != 2 and r.doc2 != 2 for r in pairs)


def test_near_dup_lookup_gates_incoming_batch(indexed, spark):
    """The pipeline gate: probe a new batch against the stored index —
    near-dups of existing docs are flagged, fresh content is not."""
    existing = indexed.table("mh_docs").filter("doc_id = 1").collect()[0].text
    probe = spark.createDataFrame(
        [
            Row(doc_id=100, text=existing + " tail"),
            Row(doc_id=101, text="entirely novel text that matches "
                                 "nothing in the corpus at all here " * 2),
        ]
    )
    got = index_minhash.near_dup_lookup(
        indexed, "mh_idx", probe, granularity="member"
    ).collect()
    flagged = {r.probe_id for r in got}
    assert 100 in flagged and 101 not in flagged
    assert {r.match_id for r in got if r.probe_id == 100} >= {1}
    # r10: the DEFAULT granularity is the scale-safe rep gate — same
    # group-level verdict, (probe_id, match_rep) schema
    rep = index_minhash.near_dup_lookup(indexed, "mh_idx", probe).collect()
    assert {r.probe_id for r in rep} == {100}
    assert all(hasattr(r, "match_rep") for r in rep)


def test_rls_hidden_docs_never_leak_through_index(indexed, spark):
    """An index is derived data: rows an RLS policy hides from the base
    table must not surface their ids through candidate_pairs or
    near_dup_lookup (and must stop pairing entirely)."""
    sn = indexed
    sn.sql("CREATE POLICY p_vis ON mh_docs FOR SELECT USING (doc_id <> 2)")
    sn.sql("ALTER TABLE mh_docs ENABLE ROW LEVEL SECURITY")
    try:
        pairs = index_minhash.candidate_pairs(sn, "mh_idx").collect()
        assert all(r.doc1 != 2 and r.doc2 != 2 for r in pairs)
        probe = sn.spark.createDataFrame(
            [Row(doc_id=200,
                 text="the quick brown fox jumps over the lazy dog "
                      "again and again " * 3)]
        )
        got = index_minhash.near_dup_lookup(
            sn, "mh_idx", probe, granularity="member"
        ).collect()
        # doc 1 (visible near-dup) matches; doc 2 (hidden near-dup) never
        assert {r.match_id for r in got} == {1}
    finally:
        sn.sql("ALTER TABLE mh_docs DISABLE ROW LEVEL SECURITY")


def test_concurrent_puts_keep_index_consistent(indexed, spark):
    """Two writers PUT-ing different docs concurrently: the per-table
    lock chain (base -> index table) must neither deadlock nor lose a
    maintenance pass — the final band table equals a fresh banding of
    the final base content."""
    import threading

    from snappydata_spark.index_minhash import _band_rows

    errs = []

    def writer(lo):
        try:
            for i in range(lo, lo + 4):
                src = spark.createDataFrame(
                    [Row(doc_id=50 + i,
                         text=f"writer {i % 2} unique content block {i} "
                              * 12)]
                )
                indexed.put("mh_docs", src)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(lo,)) for lo in (0, 10)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=180)
    assert not errs
    got = {
        (r.doc_id, r.band): r.band_hash
        for r in indexed.table("mh_idx__ann").collect()
    }
    expect = {
        (r.doc_id, r.band): r.band_hash
        for r in _band_rows(
            indexed.table("mh_docs"), "text", "doc_id", 16, 4, 3
        ).collect()
    }
    assert got == expect


def test_rep_gate_matches_collapsed_full_gate(snappy, spark):
    """near_dup_lookup_reps == the full gate's matches mapped to each
    group's min-id representative — at linear output; and PUT maintenance
    rebuilds the stored rep band table."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [Row(doc_id=i, text=base * 3) for i in range(1, 6)]  # 5 copies
    rows += [Row(doc_id=10, text="entirely different content about query "
                                 "engines and columnar storage designs " * 2)]
    corpus = spark.createDataFrame(rows)
    snappy.create_table("rg_docs", options={"key_columns": "doc_id"}, df=corpus)
    snappy.sql("CREATE INDEX rg_mh ON rg_docs(text) USING minhash")
    assert snappy.catalog.exists("rg_mh__repband")
    probe = spark.createDataFrame([Row(doc_id=100, text=(base * 3) + " zzz")])
    full = {
        (r.probe_id, r.match_id)
        for r in index_minhash.near_dup_lookup(
            snappy, "rg_mh", probe, granularity="member"
        ).collect()
    }
    reps = {
        (r.probe_id, r.match_rep)
        for r in index_minhash.near_dup_lookup_reps(
            snappy, "rg_mh", probe
        ).collect()
    }
    # full gate fans out to all 5 copies; rep gate returns ONE row (the
    # group's min id), and it's the min of the full gate's matches
    assert {m for _, m in full} == {1, 2, 3, 4, 5}
    assert reps == {(100, 1)}
    # maintenance: deleting the representative re-elects the next min id
    snappy.sql("DELETE FROM rg_docs WHERE doc_id = 1")
    reps2 = {
        (r.probe_id, r.match_rep)
        for r in index_minhash.near_dup_lookup_reps(
            snappy, "rg_mh", probe
        ).collect()
    }
    assert reps2 == {(100, 2)}


def test_rep_gate_reelects_visible_rep_under_rls(snappy, spark):
    """r8 (ADVICE #1): the materialized rep table elects reps over ALL
    rows — under RLS, a group whose MIN-ID member is hidden must still
    match probes through a re-elected VISIBLE representative (the
    pre-fix semi-join dropped the whole group's band rows: false
    negatives at the ingestion gate)."""
    base = "tokens repeat across this verbatim duplicate group forever "
    rows = [
        Row(doc_id=1, text=base * 3),   # min id — will be RLS-hidden
        Row(doc_id=2, text=base * 3),   # verbatim dup, visible
        Row(doc_id=3, text=base * 3),   # verbatim dup, visible
        Row(doc_id=9, text="something else entirely about databases "
                           "and storage engines " * 3),
    ]
    snappy.create_table(
        "mh_rls", options={"key_columns": "doc_id"},
        df=spark.createDataFrame(rows),
    )
    snappy.sql("CREATE INDEX mh_rls_idx ON mh_rls(text) USING minhash")
    probe = spark.createDataFrame([Row(doc_id=100, text=base * 3)])
    # no RLS: the materialized rep table serves; rep = global min (1)
    got = index_minhash.near_dup_lookup_reps(
        snappy, "mh_rls_idx", probe
    ).collect()
    assert {r.match_rep for r in got} == {1}
    snappy.sql("CREATE POLICY p_rls_rep ON mh_rls FOR SELECT USING (doc_id <> 1)")
    snappy.sql("ALTER TABLE mh_rls ENABLE ROW LEVEL SECURITY")
    try:
        got = index_minhash.near_dup_lookup_reps(
            snappy, "mh_rls_idx", probe
        ).collect()
        # the group still matches, through the min VISIBLE member —
        # and the hidden doc id never surfaces
        assert {r.match_rep for r in got} == {2}
    finally:
        snappy.sql("ALTER TABLE mh_rls DISABLE ROW LEVEL SECURITY")
        snappy.sql("DROP POLICY p_rls_rep")


def test_digestless_band_table_gives_same_edges(snappy, spark):
    """Band tables stored before the sig_digest column existed take
    _sig_frame's re-derived signature key; collapse_banded_pairs and the
    index's candidate_pairs must return the same edges on them as on the
    same table with the digest."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    other = "entirely different content about query engines and storage "
    rows = [Row(doc_id=i, text=base * 3) for i in (1, 5, 7)]  # mirrors
    rows += [
        Row(doc_id=2, text=(base * 3) + " zzz"),  # near-dup of 1
        Row(doc_id=3, text=other * 2),
        Row(doc_id=6, text=(other * 2) + "   "),  # same signature as 3
        Row(doc_id=4, text="short"),  # no shingle: no band rows
    ]
    snappy.create_table(
        "dl_docs", options={"key_columns": "doc_id"},
        df=spark.createDataFrame(rows),
    )
    snappy.sql("CREATE INDEX dl_mh ON dl_docs(text) USING minhash")
    banded = snappy.table("dl_mh__ann")
    assert "sig_digest" in banded.columns

    def edges(df):
        return {(r.doc1, r.doc2) for r in df.collect()}

    with_digest = edges(dedup.collapse_banded_pairs(banded))
    assert {(1, 5), (1, 7), (3, 6), (1, 2)} <= with_digest
    stripped = banded.drop("sig_digest")
    assert edges(dedup.collapse_banded_pairs(stripped)) == with_digest
    assert edges(index_minhash.candidate_pairs(snappy, "dl_mh")) == with_digest
    snappy.create_table(
        "dl_mh__ann", options={"key_columns": "doc_id,band"},
        df=spark.createDataFrame(stripped.collect(), stripped.schema),
        overwrite=True,
    )
    assert "sig_digest" not in snappy.table("dl_mh__ann").columns
    assert edges(index_minhash.candidate_pairs(snappy, "dl_mh")) == with_digest
