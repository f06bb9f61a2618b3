#!/usr/bin/env python3
"""Build the derived 10x TEXT/EMBEDDING corpus (target/scale/sf1.0x)
for the round-22 scale-law probe (VERDICT r21 #6: at sf0.1 every query
is latency-bound, so the 8-vs-32-core scaling block cannot show whether
the round-21 scan-parallelism floors actually buy parallel speedup —
only a larger corpus can). /root/testdata is read-only; derived data
lives under target/ (gitignored), same convention as
derive_scale_relational.py.

Replication shape:
  - documents: doc_id += r * stride, stride = max(doc_id) + 1 of the
    source (unique ids whatever the source's id range; text/lang/source/
    n_chars unchanged — shingle and token mass grow 10x, per-doc work
    unchanged, which is exactly the parallelism question)
  - embeddings: vec_id += r * stride, stride = max(vec_id) + 1 (labels
    unchanged). Replicated vectors are duplicates in embedding space —
    fine for a wall-clock probe of the encode/scan stages (PQ encode
    cost is per-row), NOT a recall probe.
"""
import duckdb, os

SRC = "/root/testdata/sf0.1"
DST = "/root/repo/target/scale/sf1.0x"
R = 10
os.makedirs(DST, exist_ok=True)
con = duckdb.connect()

def copy(sql, table):
    out = f"{DST}/{table}.parquet"
    if os.path.exists(out):
        print(f"skip {table} (exists)")
        return
    con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
    n = con.sql(f"SELECT count(*) FROM read_parquet('{out}')").fetchone()[0]
    print(f"{table}: {n} rows")

reps = f"(SELECT unnest(generate_series(0, {R - 1})) AS r) reps"

def stride(table, id_col):
    """max(id)+1 of the source table: replica r's ids start past every
    source id, so replicas never collide."""
    return con.sql(f"SELECT max({id_col}) + 1 FROM read_parquet('{SRC}/{table}.parquet')").fetchone()[0]

doc_stride = stride("documents", "doc_id")
vec_stride = stride("embeddings", "vec_id")
copy(f"""SELECT doc_id + r * {doc_stride} AS doc_id, text, lang, source, n_chars
         FROM read_parquet('{SRC}/documents.parquet'), {reps}""", "documents")
copy(f"""SELECT vec_id + r * {vec_stride} AS vec_id, embedding, label
         FROM read_parquet('{SRC}/embeddings.parquet'), {reps}""", "embeddings")
