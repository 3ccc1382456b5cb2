"""Training-sequence packing (corpus.q82): concatenate-and-chunk layout
invariants recomputed independently in Python over the real corpus —
contiguity per shard, div/mod consistency, straddle counts. Oracle
parity runs in tests/test_entry_oracle.py like every registered query."""

from __future__ import annotations

from collections import defaultdict

from ocr_service_spark.operators.corpus import (
    PACK_SEQ_TOKENS,
    PACK_SHARDS,
    q82_sequence_packing,
)

SF_DIR = "/root/testdata/sf0.001"


def test_packing_layout_invariants(spark):
    rows = q82_sequence_packing(spark, SF_DIR).collect()
    assert rows
    by_shard = defaultdict(list)
    for r in rows:
        assert 0 <= r.shard < PACK_SHARDS
        by_shard[r.shard].append(r)
    assert len(by_shard) == PACK_SHARDS  # 500 hashed docs hit every shard
    b = PACK_SEQ_TOKENS
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in shard_rows:
            # placement is exactly the running concatenation offset
            assert r.start_seq == cum // b
            assert r.seq_offset == cum % b
            # straddle count: sequences touched by [cum, cum+n_tokens)
            assert r.n_seqs == (cum + r.n_tokens - 1) // b - cum // b + 1
            assert r.n_tokens >= 1
            cum += r.n_tokens


def test_packing_is_append_stable(spark):
    """Dropping the tail of a shard's doc stream must not move earlier
    docs — the property that lets incremental corpus appends extend
    shards without repacking history (placement depends only on docs
    with smaller doc_id in the same shard)."""
    full = {r.doc_id: r for r in q82_sequence_packing(spark, SF_DIR).collect()}
    cutoff = 250
    import ocr_service_spark.operators.corpus as c

    docs = c.documents(spark, SF_DIR, "doc_id", "text").filter(f"doc_id < {cutoff}")
    orig_documents = c.documents
    c.documents = lambda s, d, *cols: docs
    try:
        head = {r.doc_id: r for r in q82_sequence_packing(spark, SF_DIR).collect()}
    finally:
        c.documents = orig_documents
    assert head
    for doc_id, r in head.items():
        f = full[doc_id]
        assert (r.shard, r.start_seq, r.seq_offset, r.n_seqs) == (
            f.shard, f.start_seq, f.seq_offset, f.n_seqs
        )
