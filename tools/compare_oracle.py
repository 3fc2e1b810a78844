#!/usr/bin/env python3
"""Local pre-check mimicking the driver's DuckDB-oracle compare:
for each query with an oracle, load the Spark parquet result and the
DuckDB result, sort columns by name, sort rows, compare values."""
import atexit, duckdb, glob, json, math, os, shutil, signal, sys, tempfile
import threading, time

out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_sf001"
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
# comma-separated oracle names to skip (e.g. the O(n^2) document-pair
# oracles when comparing at sf0.1, where DuckDB would grind for minutes)
skip = set(filter(None, (n.strip() for n in
                         os.environ.get("ORACLE_SKIP", "").split(","))))
# comma-separated names to compare EXCLUSIVELY (fast iteration on new
# oracles); empty means all
only = set(filter(None, (n.strip() for n in
                         os.environ.get("ORACLE_ONLY", "").split(","))))

# DuckDB spills into a scratch directory this tool deletes on exit,
# capped so that an oracle outgrowing it ends as an ERR naming the cap
# instead of filling the disk. DuckDB 1.0 enforces its own
# max_temp_directory_size on some spills only (an unrolled-DP oracle
# filled a 20 GB disk past it), so a watchdog thread interrupts the
# running query once the directory passes the same cap.
SPILL_CAP_GIB = 8
spill_dir = tempfile.mkdtemp(prefix="compare-oracle-spill-")
con = duckdb.connect(config={"temp_directory": spill_dir,
                             "max_temp_directory_size": f"{SPILL_CAP_GIB}GiB"})
spill_tripped = threading.Event()
spill_done = threading.Event()

def spill_bytes():
    total = 0
    for e in os.scandir(spill_dir):
        try: total += e.stat().st_size
        except FileNotFoundError: pass  # freed between listing and stat
    return total

def watch_spill():
    while not spill_done.wait(0.5):
        if spill_bytes() > SPILL_CAP_GIB << 30 and not spill_tripped.is_set():
            spill_tripped.set(); con.interrupt()

def drop_spill():
    spill_done.set()
    con.close()  # before the delete: DuckDB aborts at exit if its spill dir is gone
    shutil.rmtree(spill_dir, ignore_errors=True)

threading.Thread(target=watch_spill, daemon=True).start()
atexit.register(drop_spill)
# `timeout` stops a run with SIGTERM, whose default action kills the
# process without running atexit handlers. A Python-level handler would
# run only between bytecodes, which a DuckDB query can hold off for
# minutes (con.interrupt() did not stop q_unigram_encode's oracle), so
# the signal instead wakes a thread that removes the spill directory and
# exits at once.
wake_r, wake_w = os.pipe()
os.set_blocking(wake_w, False)
signal.set_wakeup_fd(wake_w)
signal.signal(signal.SIGTERM, lambda signum, frame: None)

def exit_on_signal():
    signum = os.read(wake_r, 1)[0]
    sys.stdout.flush()
    shutil.rmtree(spill_dir, ignore_errors=True)
    os._exit(128 + signum)

threading.Thread(target=exit_on_signal, daemon=True).start()

for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
for unknown in sorted(skip - set(oracle)):
    print(f"WARN unknown ORACLE_SKIP entry: {unknown!r}")

import re

def wide_types(types, cols):
    """Output-type lint (VERDICT r7 next-round #2): an oracle whose
    RESULT relation carries HUGEINT (DuckDB windowed sum / list_sum) or
    a DECIMAL wider than 18 digits hash-mismatches in the DRIVER even
    when every value is equal — its hasher converts wide types through
    pandas/float while this script stringifies exactly. Every such
    column needs a CAST(... AS BIGINT) (or a two-limb/VARCHAR reshape)
    in the oracle SQL."""
    bad = []
    for c, t in zip(cols, types):
        s = str(t).upper()
        if "HUGEINT" in s:
            bad.append(f"{c}:{s}")
        else:
            m = re.match(r"DECIMAL\((\d+)", s)
            if m and int(m.group(1)) > 18:
                bad.append(f"{c}:{s}")
    return bad

# lint self-test: a seeded windowed-sum oracle MUST be flagged
_r = con.sql("SELECT sum(x) OVER () AS s FROM (VALUES (1), (2)) t(x)")
assert wide_types(_r.types, _r.columns) == ["s:HUGEINT"], \
    "type lint failed to flag a seeded HUGEINT output"
_r = con.sql("SELECT CAST(1 AS DECIMAL(38,0)) AS d, CAST(1 AS BIGINT) AS b")
assert wide_types(_r.types, _r.columns) == ["d:DECIMAL(38,0)"], \
    "type lint failed to flag a seeded wide DECIMAL output"

def norm(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(v)  # full precision
    if isinstance(v, bytes): return v.hex()
    return str(v)

n_ok = n_bad = 0
for name, sql in sorted(oracle.items()):
    if name in skip or (only and name not in only):
        if name in skip: print(f"SKIP {name}")
        continue
    spill_tripped.clear()
    try:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"ERR  {name}: no Spark output under {out_dir}/{name}")
            n_bad += 1; continue
        spark_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        duck_rel = con.sql(sql)
        scols = sorted(spark_rel.columns); dcols = sorted(duck_rel.columns)
        if [c.lower() for c in scols] != [c.lower() for c in dcols]:
            print(f"FAIL {name}: columns {scols} vs {dcols}"); n_bad += 1; continue
        wide = wide_types(duck_rel.types, duck_rel.columns)
        if wide:
            print(f"FAIL {name}: oracle output type(s) the driver hasher "
                  f"mangles — {wide}; CAST to BIGINT-safe forms")
            n_bad += 1; continue
        srows = spark_rel.fetchall(); drows = duck_rel.fetchall()
        sidx = [spark_rel.columns.index(c) for c in scols]
        didx = [duck_rel.columns.index(c) for c in dcols]
        s = sorted(tuple(norm(r[i]) for i in sidx) for r in srows)
        d = sorted(tuple(norm(r[i]) for i in didx) for r in drows)
        if len(s) != len(d):
            print(f"FAIL {name}: rowcount {len(s)} vs {len(d)}"); n_bad += 1; continue
        diffs = [(a, b) for a, b in zip(s, d) if a != b]
        if diffs:
            print(f"FAIL {name}: {len(diffs)}/{len(s)} rows differ; first: {diffs[0]}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(s)} rows)"); n_ok += 1
    except Exception as e:
        if spill_tripped.is_set():
            e = (f"DuckDB spill passed the {SPILL_CAP_GIB} GiB "
                 f"max_temp_directory_size cap; interrupted ({e})")
        print(f"ERR  {name}: {e}"); n_bad += 1
print(f"\n{n_ok} ok, {n_bad} bad, {len(oracle)} total oracles")
