#!/usr/bin/env python3
"""Synthesize a 10x-scaled fixture set from sf0.1 for scale stress runs.

Usage: python3 tools/gensynth.py [srcDir] [dstDir]

Fact tables (customer, orders, lineitem, events) are unioned 10x with
key offsets that preserve the FK structure per copy; dimension tables
(region, nation, supplier, part) and the text/vector tables are copied
as-is, so relational queries see 6M lineitem rows / 1.5M orders / 1M
events against unchanged dims. Time named queries on it with
`SPARK_GRAFT_SF_DIR=<dstDir> SPARK_GRAFT_QUERIES=<q1,q2> sbt "runMain graft.Bench"`.
"""
import sys
import os
import shutil

import duckdb

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfsynth1"
shutil.rmtree(dst, ignore_errors=True)
os.makedirs(dst)
con = duckdb.connect()
for t in ["region", "nation", "supplier", "part", "documents", "embeddings"]:
    con.execute(f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
                f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
cmax = con.sql(f"SELECT max(c_custkey)+1 FROM read_parquet('{src}/customer.parquet')").fetchone()[0]
omax = con.sql(f"SELECT max(o_orderkey)+1 FROM read_parquet('{src}/orders.parquet')").fetchone()[0]
emax = con.sql(f"SELECT max(event_id)+1 FROM read_parquet('{src}/events.parquet')").fetchone()[0]
umax = con.sql(f"SELECT max(user_id)+1 FROM read_parquet('{src}/events.parquet')").fetchone()[0]
copies = "range(0, 10) c(i)"
con.execute(f"""COPY (SELECT c_custkey + i*{cmax} AS c_custkey, c_name, c_nationkey, c_acctbal,
  c_mktsegment FROM read_parquet('{src}/customer.parquet'), {copies})
  TO '{dst}/customer.parquet' (FORMAT PARQUET)""")
con.execute(f"""COPY (SELECT o_orderkey + i*{omax} AS o_orderkey, o_custkey + i*{cmax} AS o_custkey,
  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM read_parquet('{src}/orders.parquet'), {copies})
  TO '{dst}/orders.parquet' (FORMAT PARQUET)""")
con.execute(f"""COPY (SELECT l_orderkey + i*{omax} AS l_orderkey, l_partkey, l_suppkey, l_linenumber,
  l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
  FROM read_parquet('{src}/lineitem.parquet'), {copies})
  TO '{dst}/lineitem.parquet' (FORMAT PARQUET)""")
con.execute(f"""COPY (SELECT event_id + i*{emax} AS event_id, ts, user_id + i*{umax} AS user_id,
  event_type, value, props FROM read_parquet('{src}/events.parquet'), {copies})
  TO '{dst}/events.parquet' (FORMAT PARQUET)""")
for t in ["customer", "orders", "lineitem", "events"]:
    n = con.sql(f"SELECT count(*) FROM read_parquet('{dst}/{t}.parquet')").fetchone()[0]
    print(t, n)
