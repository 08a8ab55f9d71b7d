#!/usr/bin/env python3
"""Local self-check mirroring the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark result) and runs
<verifyOutDir>/oracle_sql.json[name] in DuckDB with every testdata table
registered as a view. Compares column names (sorted), row counts, and a
hash of all values (rows in result order AND row-sorted, so we catch both
kinds of mismatch). Each PASS/FAIL line ends with the seconds DuckDB spent on
that query's oracle (both executions, and any low-memory retries).
"""
import sys, os, json, hashlib, time, atexit, shutil
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# DuckDB spills operator state here. The cap makes a runaway oracle fail
# its own line with DuckDB's spill error instead of filling the disk
# (knn_triangles at sf0.1 once spilled 16 GB).
SPILL_DIR = "/tmp/duck_spill"
SPILL_CAP = "8GB"


def connect(sf_dir, mem, threads=None):
    """A DuckDB connection with every testdata table as a view. On a host
    that caps per-process RSS (~10 GB), without a memory_limit and a
    spill directory DuckDB dies with std::bad_alloc on heavy oracles
    (knn_triangles' wedge enumeration at sf0.1) instead of spilling — cap
    below the RSS ceiling and let blocks go to disk."""
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{mem}'")
    con.execute(f"SET temp_directory='{SPILL_DIR}'")
    con.execute(f"SET max_temp_directory_size='{SPILL_CAP}'")
    if threads is not None:
        con.execute(f"SET threads={threads}")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v)  # full precision
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = ["\x01".join(norm_cell(r[i]) for i in order) for r in rows]
    h_ordered = hashlib.md5("\n".join(lines).encode()).hexdigest()
    h_sorted = hashlib.md5("\n".join(sorted(lines)).encode()).hexdigest()
    return h_ordered, h_sorted, lines


def oracle_secs(t0):
    if t0 is None:  # failed before the oracle ran
        return ""
    return f"[oracle {time.perf_counter() - t0:.2f} s]"


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    atexit.register(shutil.rmtree, SPILL_DIR, ignore_errors=True)
    con = connect(sf_dir, "7GB")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only is not None and name not in only:
            continue
        spark_path = f"{out_dir}/{name}"
        if not os.path.isdir(spark_path):
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        t0 = None
        try:
            s = con.execute(
                f"SELECT * FROM read_parquet('{spark_path}/*.parquet')")
            s_cols = [d[0] for d in s.description]
            s_rows = s.fetchall()
            # the driver reads the oracle through arrow/pandas, where a
            # DuckDB HUGEINT (any uncast integer sum) or DECIMAL becomes
            # decimal128/float64 and stringifies "10.0" vs Spark's "10"
            # — hash-red at the driver, INVISIBLE to this script's
            # fetchall() (HUGEINT -> Python int). The six-round
            # curation_program red. Check the arrow schema explicitly.
            t0 = time.perf_counter()
            o_arrow = con.execute(oracle[name]).arrow()
            import pyarrow.types as pt
            decs = [f.name for f in o_arrow.schema if pt.is_decimal(f.type)]
            if decs:
                print(f"FAIL {name}: oracle emits decimal/HUGEINT column(s) "
                      f"{decs} — CAST(... AS BIGINT) in the oracle SQL "
                      f"(driver hash-red even when values match) "
                      f"{oracle_secs(t0)}")
                n_fail += 1
                continue
            o = con.execute(oracle[name])
            o_cols = [d[0] for d in o.description]
            o_rows = o.fetchall()
            o_secs = oracle_secs(t0)
        except Exception as e:
            # DuckDB join/agg operator state scales with thread count;
            # the heaviest oracles (knn_triangles' cluster-blocked
            # pairwise cosine at sf0.1) exceed the sandbox's per-process
            # memory at the default parallelism but complete at 2
            # threads (~13 min). Retry OOM failures once, slow but low-
            # memory, on a fresh connection.
            # memory-class failures come in several spellings: the buffer
            # manager's "Out of Memory", an allocation outside it
            # (std::bad_alloc), or a Python-side MemoryError — all retry
            # once at 2 threads (ADVICE round 13)
            mem_markers = ("Out of Memory", "bad_alloc", "MemoryError")
            is_mem = isinstance(e, MemoryError) or \
                any(m in str(e) for m in mem_markers)
            if not is_mem:
                print(f"FAIL {name}: exec error: {e} {oracle_secs(t0)}")
                n_fail += 1
                continue
            # escalating retry ladder: some operator state is PINNED
            # (unspillable) — lowering threads shrinks per-thread join
            # state (the knn_triangles class), raising the limit toward
            # the ~10 GB RSS ceiling absorbs pinned-state peaks
            # (bpe_merges at sf0.01 needs ~8 GB at any thread count)
            retried = False
            for threads, mem in ((2, "7GB"), (2, "8GB"), (1, "8GB")):
                # a failed lower-rung connection must release its memory
                # BEFORE the next rung allocates (round-15 ADVICE: a dead
                # 7GB-limit connection still holding blocks partially
                # defeats the 8GB escalation), hence the finally-close
                con2 = None
                try:
                    con2 = connect(sf_dir, mem, threads)
                    o = con2.execute(oracle[name])
                    o_cols = [d[0] for d in o.description]
                    o_rows = o.fetchall()
                    retried = True
                except Exception as e2:
                    last_err = e2
                finally:
                    if con2 is not None:
                        con2.close()
                if retried:
                    break
            o_secs = oracle_secs(t0)
            if not retried:
                print(f"FAIL {name}: exec error (after low-memory "
                      f"retries): {last_err} {o_secs}")
                n_fail += 1
                continue
        problems = []
        if sorted(s_cols) != sorted(o_cols):
            problems.append(f"cols spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        if len(s_rows) != len(o_rows):
            problems.append(f"rows spark={len(s_rows)} oracle={len(o_rows)}")
        if not problems:
            sh_o, sh_s, sl = table_digest(s_cols, s_rows)
            oh_o, oh_s, ol = table_digest(o_cols, o_rows)
            if sh_o != oh_o:
                kind = "VALUES" if sh_s != oh_s else "ROW ORDER"
                problems.append(f"hash mismatch ({kind})")
                for i, (a, b) in enumerate(zip(sl, ol)):
                    if a != b:
                        problems.append(f"  first diff row {i}:\n   spark : {a[:300]}\n   oracle: {b[:300]}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(p for p in problems) +
                  f" {o_secs}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows) {o_secs}")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
