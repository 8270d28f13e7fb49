"""Synthesize an sfN-scale dataset from sf0.1 for scale-curve benching.

Replicates sf0.1 REPS times (REPS=10 gives sf1), so the measured scale
curve extends beyond one order of magnitude (sf0.1 -> sf1 -> sf3 ->
...).  Workload-shape invariants:

- join keys shift in lockstep (lineitem.l_orderkey with
  orders.o_orderkey, o_custkey with customer.c_custkey, ...) so join
  fanouts and match rates are preserved, not multiplied;
- per-key group sizes stay constant while key cardinality grows Nx
  (events.user_id shifts => Nx users, same history per user);
- documents get every token renamed per replica (suffix _r<i>) so the
  shingle spaces of replicas are DISJOINT: near-dup RATES match sf0.1
  instead of exploding combinatorially;
- fixed-cardinality dimensions (region, nation) are copied once, like
  TPC-H at every SF.

Memory note: replicas are emitted as one UNION ALL COPY per table —
DuckDB streams it, nothing is materialized.  At reps=100 (sf10) the
lineitem output is ~60M rows / a few GB zstd parquet.

Usage: python tools/make_sfN.py REPS [out_dir]
       (out_dir default .scratch/sf<REPS/10>)
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: python tools/make_sfN.py REPS [out_dir]")
    reps = int(sys.argv[1])
    sf_label = reps / 10
    sf_name = f"sf{sf_label:g}".replace(".", "_") if sf_label != int(sf_label) else f"sf{int(sf_label)}"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", sf_name
    )
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")

    def src(t: str) -> str:
        return f"'{SRC}/{t}.parquet'"

    # key-space strides (max+1 of each shifted key)
    O = con.sql(f"SELECT max(o_orderkey)+1 FROM {src('orders')}").fetchone()[0]
    C = con.sql(f"SELECT max(c_custkey)+1 FROM {src('customer')}").fetchone()[0]
    S = con.sql(f"SELECT max(s_suppkey)+1 FROM {src('supplier')}").fetchone()[0]
    P = con.sql(f"SELECT max(p_partkey)+1 FROM {src('part')}").fetchone()[0]
    E = con.sql(f"SELECT max(event_id)+1 FROM {src('events')}").fetchone()[0]
    U = con.sql(f"SELECT max(user_id)+1 FROM {src('events')}").fetchone()[0]
    D = con.sql(f"SELECT max(doc_id)+1 FROM {src('documents')}").fetchone()[0]
    V = con.sql(f"SELECT max(vec_id)+1 FROM {src('embeddings')}").fetchone()[0]

    def emit(table: str, select_i: str, once: bool = False) -> None:
        n = 1 if once else reps
        union = "\nUNION ALL\n".join(
            select_i.format(i=i, t=src(table)) for i in range(n)
        )
        con.execute(
            f"COPY ({union}) TO '{out}/{table}.parquet' (FORMAT PARQUET, CODEC 'zstd')"
        )
        n0 = con.sql(f"SELECT count(*) FROM {src(table)}").fetchone()[0]
        n1 = con.sql(f"SELECT count(*) FROM '{out}/{table}.parquet'").fetchone()[0]
        print(f"{table}: {n0} -> {n1}", flush=True)

    emit("region", "SELECT * FROM {t}", once=True)
    emit("nation", "SELECT * FROM {t}", once=True)
    emit("customer", f"SELECT c_custkey + {{i}}*{C} AS c_custkey, "
                     "* EXCLUDE (c_custkey) FROM {t}")
    emit("supplier", f"SELECT s_suppkey + {{i}}*{S} AS s_suppkey, "
                     "* EXCLUDE (s_suppkey) FROM {t}")
    emit("part", f"SELECT p_partkey + {{i}}*{P} AS p_partkey, "
                 "* EXCLUDE (p_partkey) FROM {t}")
    emit("orders", f"SELECT o_orderkey + {{i}}*{O} AS o_orderkey, "
                   f"o_custkey + {{i}}*{C} AS o_custkey, "
                   "* EXCLUDE (o_orderkey, o_custkey) FROM {t}")
    emit("lineitem", f"SELECT l_orderkey + {{i}}*{O} AS l_orderkey, "
                     f"l_partkey + {{i}}*{P} AS l_partkey, "
                     f"l_suppkey + {{i}}*{S} AS l_suppkey, "
                     "* EXCLUDE (l_orderkey, l_partkey, l_suppkey) FROM {t}")
    emit("events", f"SELECT event_id + {{i}}*{E} AS event_id, "
                   f"user_id + {{i}}*{U} AS user_id, "
                   "* EXCLUDE (event_id, user_id) FROM {t}")
    emit("documents",
         f"SELECT doc_id + {{i}}*{D} AS doc_id, "
         "regexp_replace(text, '(\\w+)', '\\1_r{i}', 'g') AS text, "
         "* EXCLUDE (doc_id, text) FROM {t}")
    emit("embeddings", f"SELECT vec_id + {{i}}*{V} AS vec_id, "
                       "* EXCLUDE (vec_id) FROM {t}")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
