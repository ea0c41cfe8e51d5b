"""DuckDB oracle check of one entry's output, as tools/check_oracle.py does
it: the entry's `SparkEntry.oracleSql` over the same input tables must give
the same columns, the same Arrow types and exactly the same rows."""
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def compare(data_dir, out_dir, sql):
    """None when the output matches the oracle, else what differs."""
    if sql is None:
        return "no oracle SQL for this entry"
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, os.path.join(data_dir, t + ".parquet")))
        oa = con.sql(sql).arrow()
        sa = con.sql("SELECT * FROM '%s/*.parquet'" % out_dir).arrow()
        od = {f.name: str(f.type) for f in oa.schema}
        sd = {f.name: str(f.type) for f in sa.schema}
        if od != sd:
            return "arrow types differ: oracle=%s spark=%s" % (od, sd)
        o = oa.to_pandas()
        s = sa.to_pandas()
        cols = sorted(o.columns)
        if len(o) != len(s):
            return "row counts differ: oracle=%d spark=%d" % (len(o), len(s))
        o = o[cols].sort_values(by=cols, ignore_index=True)
        s = s[cols].sort_values(by=cols, ignore_index=True)
        pd.testing.assert_frame_equal(o, s, check_dtype=False, check_exact=True)
        return None
    except Exception as e:  # a failing oracle query or compare is a mismatch
        return str(e).replace("\n", " | ")[:300]
    finally:
        con.close()
