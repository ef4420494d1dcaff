"""Streaming MinHash + banded LSH near-dup — the Jaccard-semantics
twin of streaming/simhash.py, completing the streaming near-dup family
(batch has exact / jaccard / MinHash-LSH / SimHash; ingest now has
exact, SimHash-Hamming and MinHash-Jaccard).

Signatures are computed PER ROW (stateless, no streaming aggregation):
``h_i = array_min(transform(shingles, s -> md5(i || ':' || s)))`` over
the shared ``word_shingles_expr`` tokenization — value-identical to
the batch ``minhash_signatures`` groupBy-min (same md5 keyspace, same
min, just row-wise; asserted by test). Banding mirrors the batch op:
``bucket_b = md5(h[b*r] || '|' || ... || h[b*r+r-1])``; a pair whose
signatures agree on a whole band collides in that band's bucket.

Each micro-batch's docs meet only the bounded per-(band, bucket)
state, never corpus history. Candidate verification is
signature-estimated Jaccard (fraction of equal hash positions, the
standard streaming compromise — exact shingle sets would have to live
in state); with num_perm=16 the estimate's stderr is ~0.12, so treat
``min_est`` as a coarse gate and re-verify offline where exactness
matters (`pipeline/dedup.py minhash_lsh_pairs` exact-verifies the same
candidates in batch).

State, ttl window, re-delivery, pair emission and retention prune are
the banded near-dup kernel (``_util.banded_pairs``) that
stream_simhash_pairs also runs on: ttl is enforced against each
arriving doc's own event time, physical retention is ttl + watermark
behind each bucket's local clock, and a pair agreeing on several bands
is emitted only by its lowest matching band.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from ..pipeline.text import word_shingles_expr
from ._util import banded_pairs

_SIG_SEP = "|"


def minhash_signature_expr(text_col: Column, n: int = 3,
                           num_perm: int = 16) -> list:
    """Per-row MinHash signature columns ``h0..h{num_perm-1}`` —
    value-identical to ``pipeline.dedup.minhash_signatures`` (min over
    shingles of ``md5(i || ':' || shingle)``), computed without a
    groupBy so it is streaming-safe. NULL when the text has < n words
    (no shingles — such docs have no signature in batch either)."""
    shingles = F.array_distinct(word_shingles_expr(text_col, n))

    def _hasher(i):
        # one-arg closure: a `lambda s, i=i` two-param form would make
        # pyspark bind the SECOND param to the array index Column
        prefix = f"{i}:"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    return [
        F.array_min(F.transform(shingles, _hasher(i))).alias(f"h{i}")
        for i in range(num_perm)
    ]


def stream_minhash_pairs(stream_df: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         ts_col: Optional[str] = None,
                         n: int = 3,
                         num_perm: int = 16,
                         bands: int = 4,
                         min_est: float = 0.0,
                         ttl: Optional[str] = "1 hour",
                         watermark: str = "1 hour") -> DataFrame:
    """Near-dup pairs on a stream by banded MinHash: each arriving doc
    is checked against the signatures seen within ``ttl`` (event time,
    per bucket). Collision prob at Jaccard s is 1-(1-s^r)^b (r =
    num_perm/bands) — the same S-curve as the batch op.

    Output (append): id_a, id_b (id_a < id_b), est_jaccard — the
    signature-position agreement fraction, filtered to ``>= min_est``.
    The pair set with min_est=0 equals the batch op's banded candidate
    set over the same docs (tested). ``id_col`` must be integral
    (packed state), first sight wins on re-delivered ids and rows with
    a NULL ``ts_col`` are dropped — contracts shared with
    stream_simhash_pairs."""
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    rows = num_perm // bands

    def project(docs):
        sig = (docs.select("__id", "__ts_us", *minhash_signature_expr(
                   F.col(text_col), n, num_perm))
               .filter(F.col("h0").isNotNull()))
        h = [F.col(f"h{i}") for i in range(num_perm)]
        # the full signature rides along as ONE delimited string — the
        # verify step needs every position for the agreement estimate
        return sig.select(
            "__id", "__ts_us", F.concat_ws(_SIG_SEP, *h).alias("__fp"),
            F.array(*[F.md5(F.concat_ws(_SIG_SEP,
                                        *h[b * rows:(b + 1) * rows]))
                      for b in range(bands)]).alias("__buckets"))

    def match(sig, band, others):
        cur = sig.split(_SIG_SEP)
        for j, osig in enumerate(others):
            other = osig.split(_SIG_SEP)
            est = sum(a == b for a, b in zip(cur, other)) / num_perm
            if est < min_est:
                continue
            # must actually collide on THIS band (bucket md5 collisions
            # across different band values are negligible but band
            # agreement is re-checked cheaply), and on no LOWER band
            # (suppression)
            first = next((k for k in range(bands)
                          if cur[k * rows:(k + 1) * rows]
                          == other[k * rows:(k + 1) * rows]), None)
            if first == band:
                yield j, round(est, 6)

    return banded_pairs(
        stream_df, id_col=id_col, ts_col=ts_col, ttl=ttl,
        watermark=watermark, project=project, match=match,
        state_schema="ids array<long>, sigs array<string>, tss array<long>",
        value="est_jaccard double")
