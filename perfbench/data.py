"""Seeded inputs.  The same seed always gives the same rows.

- ``transcripts``: synthetic chat transcripts generated inside Spark, shaped
  like ``sparksketch.transcripts.synthesize_transcripts`` (about 50 turns per
  conversation, 1% of turns on 5 hot conversations, 12 tool names plus
  NULL) but seeded.
- ``write_tables``: the tables the headline queries read, at the size of the
  repository's sf0.01 test data (1.5k customers, 15k orders, 60k line
  items, 10k events, 500 documents, 500 embeddings), written as parquet.
- ``write_stream``: parquet micro-batch files for the stream dedup.
"""
from __future__ import annotations

import os

import numpy as np

TOOLS = 12
HOT_KEYS = 5
HOT_PER_MILLION = 10_000


def transcripts(spark, n_turns: int, seed: int, partitions: int = 16):
    """DataFrame[conv_id, turn_idx, tool] with ``n_turns`` rows."""
    from pyspark.sql import functions as F
    n_convs = max(n_turns // 50, 1)
    h = F.xxhash64(F.lit(seed), "id")
    h2 = F.xxhash64(F.lit(seed), F.lit(7), "id")
    conv_idx = (F.when(F.pmod(h, F.lit(1_000_000)) < HOT_PER_MILLION,
                       F.pmod(h2, F.lit(HOT_KEYS)))
                .otherwise(F.pmod(h2, F.lit(n_convs))))
    is_tool = F.pmod(h, F.lit(100)) >= 86
    return spark.range(0, n_turns, 1, partitions).select(
        F.concat(F.lit("conv-"), F.lpad(conv_idx.cast("string"), 9, "0"))
        .alias("conv_id"),
        F.pmod(h2, F.lit(1 << 30)).cast("int").alias("turn_idx"),
        F.when(is_tool, F.concat(F.lit("tool_"),
                                 F.pmod(h2, F.lit(TOOLS)).cast("string")))
        .otherwise(F.lit(None).cast("string")).alias("tool"))


# ---------------------------------------------------------------------------
# query tables
# ---------------------------------------------------------------------------

TABLES = ("customer", "orders", "lineitem", "events", "documents",
          "embeddings")
_WORDS = ("key agg row scan slow fast table value part hash batch merge "
          "spark line sort window data column join small customer query "
          "big order stream filter group vector").split()
_MARKERS = {"en": ["the", "and", "of", "to", "a", "in", "is"],
            "de": ["der", "die", "und", "das", "ist", "nicht"],
            "fr": ["le", "la", "et", "les", "des", "est"],
            "es": ["el", "la", "los", "que", "es", "una"]}
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random word texts with a few planted exact duplicates and one-word
    edits of long documents, so the dedup and near-dup queries find
    pairs; every true near-dup pair is far above the 0.5 jaccard cut."""
    langs = list(_MARKERS)
    texts, lang = [], []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and r < 0.08:
            src = texts[int(rng.integers(0, i))].split(" ")
            if len(src) >= 40:
                src[int(rng.integers(0, len(src)))] = "edit"
            texts.append(" ".join(src))
        else:
            lg = langs[int(rng.integers(0, len(langs)))]
            vocab = _WORDS + _MARKERS[lg]
            w = rng.integers(0, len(vocab), int(rng.integers(8, 80)))
            texts.append(" ".join(vocab[j] for j in w))
        lang.append(langs[int(rng.integers(0, len(langs)))])
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": lang,
            "source": [f"src{int(x)}" for x in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the query tables as parquet; returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_li, n_ev, n_doc, n_emb = (1500, 15000, 60000, 10000,
                                               500, 500)
    days = rng.integers(0, 2400, n_ord)
    tables = {
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust)},
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            # a tenth of the customers place no order
            "o_custkey": rng.integers(0, n_cust * 9 // 10, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(900, 500000, n_ord), 2),
            "o_orderdate": (np.datetime64("1995-01-01", "us")
                            + days.astype("timedelta64[D]")),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], n_ord)},
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, 2000, n_li),
            "l_suppkey": rng.integers(0, 100, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": (np.datetime64("1995-01-01", "us")
                           + rng.integers(0, 2500, n_li)
                           .astype("timedelta64[D]"))},
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _EPOCH_2024 + np.sort(
                rng.integers(0, 30 * 86400 * 10**6, n_ev)
            ).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
            "props": [f'{{"k": {int(k)}}}'
                      for k in rng.integers(0, 100, n_ev)]},
        "documents": _documents(rng, n_doc),
        "embeddings": {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(rng.normal(0, 0.15, (n_emb, 64))
                              .astype(np.float32)),
            "label": rng.integers(0, 4, n_emb).astype(np.int32)},
    }
    rows = {}
    for name, cols in tables.items():
        tbl = pa.table({k: pa.array(v) if k != "embedding"
                        else pa.array([list(x) for x in v],
                                      type=pa.list_(pa.float32()))
                        for k, v in cols.items()})
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


# ---------------------------------------------------------------------------
# stream files
# ---------------------------------------------------------------------------

STREAM_SCHEMA = "conv_id string, turn_idx long, text string"


def stream_batches(seed: int, batches: int, rows: int, keys: int,
                   vocab: int = 40) -> list[dict]:
    """Micro-batch contents.  ``turn_idx`` rises across batches, so every
    key's rows arrive in turn order; texts repeat within a key."""
    rng = np.random.default_rng(seed)
    out = []
    for b in range(batches):
        k = rng.integers(0, keys, rows)
        out.append({
            "conv_id": [f"conv-{int(x):09d}" for x in k],
            "turn_idx": np.arange(b * rows, (b + 1) * rows, dtype=np.int64),
            "text": [f"w{int(x)}" for x in rng.integers(0, vocab, rows)]})
    return out


def write_stream(out_dir: str, batches: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    import time
    os.makedirs(out_dir, exist_ok=True)
    # the file source orders files by modification time: space them a
    # second apart so batch order is file order
    base = int(time.time()) - len(batches)
    for i, b in enumerate(batches):
        path = os.path.join(out_dir, f"{i:05d}.parquet")
        pq.write_table(pa.table(b), path)
        os.utime(path, (base + i, base + i))
