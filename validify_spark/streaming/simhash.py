"""Streaming SimHash near-dup — the ingest-side twin of
pipeline/dedup.simhash_pairs (r4 verdict "missing #4").

A training-data ingest wants NEAR-dup detection at arrival, not only
exact (streaming/dedup.py): a lightly-edited copy of a document that
flowed through an hour ago should be flagged before it lands in the
corpus. Same banded scheme as the batch op: any pair within Hamming
distance ≤ 3 of a 64-bit SimHash agrees exactly on ≥1 of four 16-bit
bands (pigeonhole), so each micro-batch's docs only meet the bounded
per-(band, bucket) state — never corpus history.

Scale shape (100 TB/day ingest): fingerprinting is one Arrow UDF pass
per micro-batch (the SAME pandas UDF as the batch op — parity by
construction); state is partitioned over 4 x 2^16 (band, bucket)
groups, each holding only fingerprints (24 bytes/doc) seen within
``ttl + watermark`` of that bucket's newest event, pruned every batch
(the match window itself is ``ttl``); candidate
verification is a vectorized numpy xor+popcount against just the
bucket's members. No shuffle beyond the groupBy(band, bucket) that any
stateful operator needs. The state, ttl window, re-delivery, pair
emission and retention prune are the banded near-dup kernel
(``_util.banded_pairs``) shared with stream_minhash_pairs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..pipeline.dedup import simhash_udf
from ._util import banded_pairs

_N_BANDS = 4
_BAND_BITS = 16
_BAND_MASK = (1 << _BAND_BITS) - 1
_FP_MASK = (1 << 64) - 1


def stream_simhash_pairs(stream_df: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         ts_col: Optional[str] = None,
                         max_hamming: int = 3,
                         ttl: Optional[str] = "1 hour",
                         watermark: str = "1 hour") -> DataFrame:
    """Near-dup pairs on a stream: each arriving doc is checked against
    the fingerprints seen within ``ttl`` (event time, per bucket).

    Cross-band duplicate suppression costs no second stateful operator:
    a pair agreeing on several bands is emitted ONLY by its lowest
    matching band — both fingerprints are in hand at comparison time,
    so every band's group decides "is some earlier band also a match?"
    locally and deterministically (the distributed analog of the batch
    op's ``.distinct()``).

    With ``ts_col``: input gets ``withWatermark(ts_col, watermark)``,
    the MATCH window is ``ttl`` relative to each arriving doc's event
    time, and physical state retention is ``ttl + watermark`` behind
    each bucket's newest event. The extra ``watermark`` of retention is
    what keeps lowest-band suppression sound: buckets prune on their
    own local clocks (an unrelated newer doc advances one bucket but
    not another), so an entry must survive in EVERY band's bucket for
    as long as an in-watermark arrival could still pair with it —
    otherwise a pair could be pruned from its lowest matching band yet
    suppressed in a higher one. Rows with a NULL ``ts_col`` are
    dropped: they have no place on the ttl clock. Without ``ts_col``
    state grows with distinct fingerprints (tests/small streams only).

    ``id_col`` must be integral (the 24-byte/doc state packs ids as
    longs); re-delivered ids (at-least-once sources) are ignored after
    first sight — first-wins, matching stream_exact_dedup. Pairs with
    out-of-watermark stragglers follow watermark semantics: data later
    than the watermark has no delivery guarantee anywhere in Structured
    Streaming, and may likewise be missed here.

    Output (append mode): id_a, id_b (id_a < id_b), hamming — the
    batch ``simhash_pairs`` schema, so a stream over the same docs
    yields the same pair set (tested)."""
    import numpy as np

    if max_hamming > _N_BANDS - 1:
        # pigeonhole recall guarantee: d <= bands-1 collides on >= 1
        # band; a larger threshold would SILENTLY miss pairs whose
        # bits spread one-per-band
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the {_N_BANDS}-band "
            f"recall guarantee (<= {_N_BANDS - 1}); raise the band "
            "count, not the threshold")

    def project(rows):
        fp = (rows.select("__id", "__ts_us",
                          simhash_udf()(F.col(text_col)).alias("__fp"))
              .filter(F.col("__fp").isNotNull()))
        return fp.select("*", F.array(*[
            F.shiftrightunsigned(F.col("__fp"), _BAND_BITS * b)
             .bitwiseAND(F.lit(_BAND_MASK))
            for b in range(_N_BANDS)]).alias("__buckets"))

    def match(fp, band, others):
        if not others:
            return
        x = np.array(others, dtype=np.int64).view(np.uint64) \
            ^ np.uint64(fp & _FP_MASK)
        ham = np.unpackbits(x.view(np.uint8)).reshape(-1, 64).sum(axis=1)
        for j in np.nonzero(ham <= max_hamming)[0]:
            # lowest-matching-band suppression: emit only if no band
            # below this one also agrees (pigeonhole: one always does)
            diff = (fp ^ others[j]) & _FP_MASK
            if next(k for k in range(_N_BANDS)
                    if not (diff >> (_BAND_BITS * k)) & _BAND_MASK) == band:
                yield j, int(ham[j])

    return banded_pairs(
        stream_df, id_col=id_col, ts_col=ts_col, ttl=ttl,
        watermark=watermark, project=project, match=match,
        state_schema="ids array<long>, fps array<long>, tss array<long>",
        value="hamming int")
