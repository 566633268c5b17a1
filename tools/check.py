#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [NAME ...]
       python3 tools/check.py --same-as <otherVerifyDir> <verifyOutDir> [NAME ...]

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB with the
parquet tables of <sfDir> registered as views, and compares against the
parquet the Spark Verify main dumped at <verifyOutDir>/<name>/.

The checked names are the declared ones -- the oracle_sql.json keys,
narrowed to the NAMEs given -- never the dump directories found. A
declared name without a dump fails, and so does a name the run's
VERIFY_SELF.json lists under `failures`, even when a stale dump
directory from an earlier run is still there.

--same-as compares two Verify runs instead (say, of a change and of its
parent): each query the other run declares must have a dump in both
directories, bit-identical under the same comparison, and be listed as
failed by neither run; the two oracle_sql.json maps must be equal key for
key. No sf directory is read.

Comparison mirrors the driver's pandas-hash gate, which is BIT-exact:
both sides go through fetchdf / read_parquet into pandas, columns are
sorted by name, rows sorted, then values compared at the bit level
(float64 -0.0 != +0.0, int64 != float64). This catches the two classes
a value-level compare hides:
  * DuckDB sum(BIGINT) -> HUGEINT -> float64 in pandas (dtype mismatch
    vs Spark's int64) -- cast integer sums to BIGINT in oracle SQL;
  * IEEE -0.0 vs +0.0 after round() of a tiny negative -- normalize
    with `+ 0` on both sides.
"""
import argparse, sys, json, glob, os
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """Sort columns by name, rows by stringified tuple; keep dtypes."""
    df = df[sorted(df.columns)]
    if len(df):
        key = df.astype(str).apply(tuple, axis=1)
        df = df.iloc[key.argsort(kind="mergesort").to_numpy()].reset_index(drop=True)
    return df


def bit_diff(a, b):
    """First bit-level difference between two canonicalized frames, or None."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        # int widths are interchangeable (the driver's pandas hash casts
        # every integer dtype to uint64), but int-vs-float is a mismatch.
        ints = (np.int8, np.int16, np.int32, np.int64,
                np.uint8, np.uint16, np.uint32, np.uint64)
        if x.dtype in ints and y.dtype in ints:
            if not (x.to_numpy().astype(np.int64) == y.to_numpy().astype(np.int64)).all():
                neq = x.to_numpy().astype(np.int64) != y.to_numpy().astype(np.int64)
                i = int(np.argmax(neq))
                return f"col {c} row {i}: {x.iloc[i]!r} vs {y.iloc[i]!r}"
            continue
        if str(x.dtype) != str(y.dtype):
            return f"col {c}: dtype {x.dtype} vs {y.dtype}"
        if x.dtype == np.float64:
            xb = x.to_numpy().view(np.uint64)
            yb = y.to_numpy().view(np.uint64)
            neq = xb != yb
            if neq.any():
                i = int(np.argmax(neq))
                return f"col {c} row {i}: {x.iloc[i]!r} vs {y.iloc[i]!r} (bit-level)"
        else:
            for i in range(len(x)):
                if repr(x.iloc[i]) != repr(y.iloc[i]):
                    return f"col {c} row {i}: {x.iloc[i]!r} vs {y.iloc[i]!r}"
    return None


def read_dump(con, d):
    """A query's Spark dump directory as a pandas frame, or None if absent."""
    if not glob.glob(f"{d}/*.parquet"):
        return None
    return con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()


def declared(out_dir, only):
    """A Verify run's oracle map and its declared names, narrowed to `only`."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    return oracle, sorted(n for n in oracle if not only or n in only)


def failures(out_dir):
    """The names a Verify run's VERIFY_SELF.json lists as failed, with messages."""
    p = os.path.join(out_dir, "VERIFY_SELF.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f).get("failures", {})


def same_as(a_dir, b_dir, only=()):
    """Compare two Verify output dirs; returns (report lines, n_differing)."""
    con = duckdb.connect()
    lines, n_bad = [], 0
    oa, names = declared(a_dir, only)
    ob, _ = declared(b_dir, only)
    failed = {d: failures(d) for d in (a_dir, b_dir)}
    n_same = 0
    for name in names:
        bad_run = next((d for d in (a_dir, b_dir) if name in failed[d]), None)
        if bad_run is not None:
            lines.append(f"DIFF {name}: Verify failed in {bad_run}"); n_bad += 1
            continue
        a = read_dump(con, os.path.join(a_dir, name))
        b = read_dump(con, os.path.join(b_dir, name))
        if a is None or b is None:
            side = a_dir if a is None else b_dir
            lines.append(f"DIFF {name}: no dump in {side}"); n_bad += 1
            continue
        diff = bit_diff(canon(a), canon(b))
        if diff is None:
            lines.append(f"SAME {name}: {len(a)} rows"); n_same += 1
        else:
            lines.append(f"DIFF {name}: {diff}"); n_bad += 1
    if only:
        oa = {k: v for k, v in oa.items() if k in only}
        ob = {k: v for k, v in ob.items() if k in only}
    for k in sorted(set(oa) | set(ob)):
        if k not in oa or k not in ob:
            side = a_dir if k not in oa else b_dir
            lines.append(f"DIFF oracle {k}: missing in {side}"); n_bad += 1
        elif oa[k] != ob[k]:
            lines.append(f"DIFF oracle {k}: SQL differs"); n_bad += 1
    lines.append(f"== {n_same} dumps bit-identical, oracle_sql.json "
                 f"{'equal' if oa == ob else 'differs'} ({len(oa)} vs {len(ob)} keys), "
                 f"{n_bad} differences")
    return lines, n_bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--same-as", metavar="OTHER_VERIFY_DIR")
    ap.add_argument("first", help="sf dir, or with --same-as a Verify output dir")
    ap.add_argument("rest", nargs="*", help="Verify output dir (without --same-as), then query names")
    args = ap.parse_args()
    if args.same_as:
        lines, n_bad = same_as(args.same_as, args.first, set(args.rest))
        print("\n".join(lines))
        sys.exit(1 if n_bad else 0)
    if not args.rest:
        ap.error("the Verify output dir is required")
    sf_dir, out_dir, only = args.first, args.rest[0], set(args.rest[1:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle, names = declared(out_dir, only)
    failed = failures(out_dir)
    n_pass = n_fail = 0
    for name in sorted(only - set(oracle)):
        print(f"FAIL {name}: not declared in oracle_sql.json"); n_fail += 1
    for name in names:
        if name in failed:
            print(f"FAIL {name}: Verify failed: {failed[name]}"); n_fail += 1; continue
        got = read_dump(con, os.path.join(out_dir, name))
        if got is None:
            print(f"FAIL {name}: no spark output parquet"); n_fail += 1; continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns differ spark={sorted(got.columns)} duck={sorted(exp.columns)}")
            n_fail += 1; continue
        diff = bit_diff(canon(got), canon(exp))
        if diff is None:
            print(f"PASS {name}: {len(got)} rows"); n_pass += 1
        else:
            print(f"FAIL {name}: {diff}"); n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
