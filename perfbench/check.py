"""Out-of-process correctness checks, computed apart from the engine.

`replay` re-runs a query's DuckDB oracle (`SparkEntry.oracleSql`) on the
same generated inputs and compares with the rules of the repository's
oracle checker: columns sorted by name, rows sorted, doubles rounded to
four places, then compared as strings. The property checks cover what a
per-batch replay would cost too much to redo: injected exact copies,
packing totals and sequence limits, and the AUC range.
"""
import glob
import os

import duckdb
import pandas as pd

from gen import TABLES


def connect(dir_, threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{dir_}/{t}.parquet')")
    return con


def read_dump(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(4)
    return df


def replay(con, sql, got):
    """None when the engine's result `got` equals the oracle's, else why."""
    want = con.execute(sql).fetchdf()
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"schema {list(got.columns)} != {list(want.columns)}"
    gs, ws = got.astype(str), want.astype(str)
    if gs.shape != ws.shape:
        return f"shape {gs.shape} != {ws.shape}"
    if not gs.equals(ws):
        return f"{int((gs != ws).any(axis=1).sum())}/{len(gs)} rows differ"
    return None


def exact_copies_flagged(lsh, admit, pipeline, pairs):
    """Every injected exact copy (and its source) is a near duplicate in the
    MinHash output, every copy is rejected at admission, and the cleaning
    pipeline never keeps both members of a pair."""
    near = dict(zip(lsh["doc_id"], lsh["n_near_dups"]))
    verdict = dict(zip(admit["doc_id"], admit["verdict"]))
    kept = set(pipeline["doc_id"])
    for src, dup in pairs:
        if near.get(src, 0) < 1 or near.get(dup, 0) < 1:
            return f"exact copy {dup} of {src} not flagged by dedup_minhash_lsh"
        if verdict.get(dup) != "reject":
            return f"exact copy {dup} admitted ({verdict.get(dup)})"
        if src in kept and dup in kept:
            return f"dedup_pipeline kept both {src} and {dup}"
    return None


def packing(pack_bpe, pack_split, doc_tokens, n_docs, split_capacity=64):
    """Both packings carry exactly the per-document token totals, every
    document lands in one whole-document bin, and no split chunk is longer
    than the sequence limit."""
    tokens = doc_tokens["n_bpe_tokens"]
    total = int(tokens.sum())
    if int(pack_bpe["bin_tokens"].sum()) != total:
        return f"corpus_pack_bpe packs {int(pack_bpe['bin_tokens'].sum())} tokens, documents hold {total}"
    if int(pack_split["bin_tokens"].sum()) != total:
        return f"corpus_pack_split packs {int(pack_split['bin_tokens'].sum())} tokens, documents hold {total}"
    if int(pack_bpe["n_docs"].sum()) != n_docs:
        return f"corpus_pack_bpe packs {int(pack_bpe['n_docs'].sum())} documents of {n_docs}"
    chunks = int(sum((n + split_capacity - 1) // split_capacity for n in tokens if n > 0))
    if int(pack_split["n_chunks"].sum()) != chunks:
        return f"corpus_pack_split has {int(pack_split['n_chunks'].sum())} chunks, expected {chunks}"
    if int(pack_split["max_chunk_tokens"].max()) > split_capacity:
        return f"a chunk of {int(pack_split['max_chunk_tokens'].max())} tokens exceeds {split_capacity}"
    return None


def auc_in_range(df):
    auc = df["auc"].tolist()
    if len(auc) != 1 or not (0.0 <= auc[0] <= 1.0):
        return f"AUC {auc} outside [0, 1]"
    return None
