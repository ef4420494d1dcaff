"""Seeded input generators. The same seed always writes the same files;
the library only ever reads the files written here.

- Turns: the library's public ``generate_turns`` / ``generate_conv_meta``
  (with its usual ~8% failing rows, duplicate keys and hot conversations),
  written to parquet.
- Ingest events: JSON transcript events with role/text/email/url/ip/phone
  fields, one parquet file per micro-batch. ``FAIL_SHARE`` of the
  well-formed payloads carry exactly one rule defect, ``MALFORMED_SHARE``
  are truncated JSON, and ``DUP_SHARE`` reuse the (conv_id, turn_idx) key
  of an earlier event, often in an earlier file.
- Corpus: documents drawn from a fixed vocabulary, with exact copies
  (``EXACT_SHARE``), one-word-edited copies (``NEAR_SHARE``), e-mail and
  IPv4 strings in ``PII_SHARE`` of the originals, and ``CONTAM_SHARE``
  originals quoting a 20-word span of a small eval set.

The event and corpus generators also write a truth table beside their
inputs (what they injected where); only the DuckDB oracle reads those.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAIL_SHARE = 0.30
MALFORMED_SHARE = 0.02
DUP_SHARE = 0.02
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
PII_SHARE = 0.10
CONTAM_SHARE = 0.02

ROLES = ["system", "user", "assistant", "tool"]
DEFECTS = ["role", "text", "email", "url", "ip", "phone"]
PAYLOAD_SCHEMA = ("role string, text string, email string, url string, "
                  "ip string, phone string")
EVENT_SCHEMA = ("event_id long, conv_id string, turn_idx int, ts timestamp, "
                "payload string")
TURNS_PER_CONV = 8


# -- transcript turns (library generator) ------------------------------------

def write_turns(spark, out_dir: str, n_rows: int, seed: int) -> None:
    """``out_dir/turns``, its parent table ``out_dir/meta`` and
    ``out_dir/baseline``: a quarter-size earlier night (seed + 1), the
    reference side of the role-drift check."""
    from validify_spark.data import generate_conv_meta, generate_turns

    parts = spark.sparkContext.defaultParallelism
    generate_turns(spark, n_rows, seed=seed, partitions=parts) \
        .write.parquet(f"{out_dir}/turns")
    generate_conv_meta(spark, n_rows, seed=seed) \
        .coalesce(1).write.parquet(f"{out_dir}/meta")
    generate_turns(spark, n_rows // 4, seed=seed + 1, partitions=parts) \
        .select("role").coalesce(1).write.parquet(f"{out_dir}/baseline")


# -- ingest events -------------------------------------------------------------

def _valid_fields(i: int, rng) -> dict:
    # every third url is an opaque mailto: form and every fourth ip an
    # IPv6 literal: both are decided by the Arrow UDF tier, not the SQL
    # fast path; every phone carries '+', which also routes to the UDF
    url = (f"mailto:u{i}@example.com" if i % 3 == 0
           else f"https://example.com/t/{i}")
    ip = (f"2001:db8::{i % 65535:x}" if i % 4 == 0
          else f"10.{i % 256}.{(i // 256) % 256}.{rng.integers(1, 255)}")
    words = " ".join(f"w{int(w)}" for w in rng.integers(0, 500, 12))
    return {"role": ROLES[i % 4], "text": f"turn {i} {words}",
            "email": f"user{i}@example.com", "url": url, "ip": ip,
            "phone": f"+1415237{i % 10000:04d}"}


_BROKEN = {
    "role": lambda i: "robot",
    "text": lambda i: "",
    "email": lambda i: f"user{i}.example.com",
    "url": lambda i: f"example.com/t/{i}",
    "ip": lambda i: f"300.{i % 256}.1.1",
    "phone": lambda i: f"1415237{i % 10000:04d}",
}


def write_events(out_dir: str, n_files: int, per_file: int,
                 seed: int) -> None:
    """``out_dir/events/part-*.parquet`` plus ``out_dir/events_truth``."""
    rng = np.random.default_rng(seed)
    n = n_files * per_file
    conv = np.arange(n) // TURNS_PER_CONV
    turn = np.arange(n) % TURNS_PER_CONV
    dup = rng.random(n) < DUP_SHARE
    dup[0] = False
    for i in np.nonzero(dup)[0]:
        j = max(0, i - int(rng.integers(1, 4 * per_file)))
        conv[i], turn[i] = conv[j], turn[j]
    malformed = rng.random(n) < MALFORMED_SHARE
    failing = ~malformed & (rng.random(n) < FAIL_SHARE)
    defect = rng.integers(0, len(DEFECTS), n)

    payloads, bad_field = [], []
    for i in range(n):
        fields = _valid_fields(i, rng)
        field = DEFECTS[defect[i]] if failing[i] else None
        if field is not None:
            fields[field] = _BROKEN[field](i)
        text = json.dumps(fields)
        payloads.append(text[: len(text) // 2] if malformed[i] else text)
        bad_field.append(field)

    base_ts = np.datetime64("2024-06-01T00:00:00", "us")
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "conv_id": pa.array([f"s{c:07d}" for c in conv]),
        "turn_idx": pa.array(turn, pa.int32()),
        "ts": pa.array(base_ts + np.arange(n) * 1_000_000,
                       pa.timestamp("us", tz="UTC")),
        "payload": pa.array(payloads),
    })
    os.makedirs(f"{out_dir}/events")
    for k in range(n_files):
        pq.write_table(events.slice(k * per_file, per_file),
                       f"{out_dir}/events/part-{k:05d}.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "malformed": pa.array(malformed),
        "bad_field": pa.array(bad_field, pa.string()),
    }), _new(f"{out_dir}/events_truth"))


# -- document corpus -----------------------------------------------------------

def _vocabulary() -> list:
    """A fixed 2,000-word vocabulary (independent of the seed) plus common
    English function words, so the quality filter passes every document."""
    rng = np.random.default_rng(20240601)
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words = set()
    while len(words) < 2000:
        k = int(rng.integers(2, 4))
        words.add("".join(cons[rng.integers(16)] + vows[rng.integers(5)]
                          for _ in range(k)))
    return sorted(words) + ["the", "of", "and", "to", "in", "is", "that",
                            "for", "it", "with", "as", "on", "was", "by"]


def write_corpus(out_dir: str, n_docs: int, seed: int) -> None:
    """``out_dir/docs``, ``out_dir/eval`` and ``out_dir/docs_truth``.

    Originals come first (lowest doc ids), so each duplicate family's
    surviving representative is its original."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary())
    n_copies = int(n_docs * (EXACT_SHARE + NEAR_SHARE))
    n_exact = int(n_docs * EXACT_SHARE)
    n_orig = n_docs - n_copies
    n_eval = 50

    evals = [" ".join(vocab[rng.integers(0, len(vocab), 40)])
             for _ in range(n_eval)]
    texts, pii, contam = [], [], []
    for i in range(n_orig):
        words = list(vocab[rng.integers(0, len(vocab),
                                        int(rng.integers(80, 140)))])
        n_pii = 0
        if rng.random() < PII_SHARE:
            words.insert(int(rng.integers(0, len(words))),
                         f"mail{i}@corp{i % 97}.example.org")
            words.insert(int(rng.integers(0, len(words))),
                         f"192.168.{i % 256}.{1 + i % 250}")
            n_pii = 2
        is_contam = bool(rng.random() < CONTAM_SHARE)
        if is_contam:
            src = evals[int(rng.integers(0, n_eval))].split()
            at = int(rng.integers(0, len(words)))
            words[at:at] = src[5:25]
        texts.append(" ".join(words))
        pii.append(n_pii)
        contam.append(is_contam)

    family = list(range(n_orig))
    kinds = ["original"] * n_orig
    clean = [i for i in range(n_orig) if not contam[i]]
    for k in range(n_copies):
        src = clean[int(rng.integers(0, len(clean)))]
        words = texts[src].split(" ")
        kind = "exact" if k < n_exact else "near"
        if kind == "near":
            # edit one vocabulary word (never a PII token) in place
            at = int(rng.integers(0, len(words)))
            while "@" in words[at] or "." in words[at]:
                at = (at + 1) % len(words)
            words[at] = words[at] + "x"
        texts.append(" ".join(words))
        family.append(src)
        kinds.append(kind)
        pii.append(pii[src])
        contam.append(False)

    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts)}), _new(f"{out_dir}/docs"))
    pq.write_table(pa.table({
        "eval_id": pa.array(np.arange(n_eval), pa.int64()),
        "text": pa.array(evals)}), _new(f"{out_dir}/eval"))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "family": pa.array(family, pa.int64()),
        "kind": pa.array(kinds),
        "n_pii": pa.array(pii, pa.int32()),
        "contaminated": pa.array(contam)}), _new(f"{out_dir}/docs_truth"))


def _new(d: str) -> str:
    os.makedirs(d)
    return f"{d}/part-00000.parquet"
