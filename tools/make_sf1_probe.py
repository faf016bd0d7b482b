#!/usr/bin/env python3
"""Synthesize a 10x sf0.1 probe dir ("sf1 probe") for the r16 scaling runs
(VERDICT #6: at sf0.1 the suite is overhead-bound — 8 cores beat 32 — so
low/high-core ratios must be measured at a larger SF).

documents: 10 shifted copies; EVERY token gets a per-copy suffix so copies
share no n-grams — cross-copy near-dup pairs would otherwise explode the
winnow/dedup probes quadratically and the probe would measure the blow-up,
not scaling. embeddings: 10 shifted copies with a per-copy additive offset
on the components (the ScaleProbe recipe in SCALE.md). Other tables are copied as-is
(the genuinely-parallel heavy queries read documents/embeddings).

Usage: python3 tools/make_sf1_probe.py [src=/root/testdata/sf0.1] [dst=/tmp/sf1probe] [copies=10]
"""
import shutil, sys
from pathlib import Path

import duckdb

SRC = Path(sys.argv[1]) if len(sys.argv) > 1 else Path("/root/testdata/sf0.1")
DST = Path(sys.argv[2]) if len(sys.argv) > 2 else Path("/tmp/sf1probe")
COPIES = int(sys.argv[3]) if len(sys.argv) > 3 else 10

DST.mkdir(parents=True, exist_ok=True)
con = duckdb.connect()

ndocs = con.sql(f"SELECT max(doc_id)+1 FROM '{SRC}/documents.parquet'").fetchone()[0]
nvecs = con.sql(f"SELECT max(vec_id)+1 FROM '{SRC}/embeddings.parquet'").fetchone()[0]

docs_sql = " UNION ALL ".join(
    f"""SELECT doc_id + {c * ndocs} AS doc_id,
               regexp_replace(text, '(\\S+)', '\\1x{c}', 'g') AS text,
               * EXCLUDE (doc_id, text)
        FROM '{SRC}/documents.parquet'"""
    for c in range(COPIES))
con.sql(f"COPY ({docs_sql}) TO '{DST}/documents.parquet' (FORMAT PARQUET)")

emb_sql = " UNION ALL ".join(
    f"""SELECT vec_id + {c * nvecs} AS vec_id,
               list_transform(embedding, x -> x + {c}.0) AS embedding,
               * EXCLUDE (vec_id, embedding)
        FROM '{SRC}/embeddings.parquet'"""
    for c in range(COPIES))
con.sql(f"COPY ({emb_sql}) TO '{DST}/embeddings.parquet' (FORMAT PARQUET)")

for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]:
    shutil.copy(SRC / f"{t}.parquet", DST / f"{t}.parquet")

for t in ["documents", "embeddings"]:
    n = con.sql(f"SELECT count(*) FROM '{DST}/{t}.parquet'").fetchone()[0]
    print(f"{t}: {n} rows")
print(f"probe dir ready: {DST}")
