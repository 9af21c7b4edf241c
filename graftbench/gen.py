"""Seeded input generator for the graft benchmark.

`generate(seed, out_dir, base)` writes one seed's inputs under `out_dir`, from the
fixtures under `base`:

- `tables/`  the timed table set: every engine table at the sf0.01 schemas and
  row counts, derived from the base fixture by seeded perturbation;
- `drops/`   the generated `events` table cut into numbered JSON-lines files
  for `sensor_stream`, plus `drops/manifest.json` (rows per file, the late
  event ids, the measured out-of-order and late shares).

The perturbations keep the structure the engine's pipelines depend on, in the
way `tools/make_sf1_probe.py` does for its scale probe:

- documents: a per-seed token remap (w -> w + 'q' + tag for one token in five),
  a function of the token alone, so every pairwise Jaccard is unchanged and
  the near-duplicate clusters survive;
- embeddings: a per-seed cyclic rotation plus sign flip of the dimensions,
  an orthogonal map, so every cosine is unchanged;
- customer names and every join key are kept, so the name-neighbour graph and
  the key skew survive;
- money and measures move on their 2-decimal grid, dates by a few days per
  order, event times by a per-row jitter of up to 30 s either way.

The same seed gives byte-identical files: DuckDB runs single-threaded with a
total ORDER BY on every table, and the late rows are drawn by `random.Random`.
"""
import json
import os
import random
import re
import shutil
import sys

import duckdb

TIMED_BASE = "sf0.01"
WARM_BASE = "sf0.001"         # read as it is by the class-data training run (run.py)

# sensor_stream drop files: the seed's `events` table in arrival (event_id)
# order, EVENTS_PER_DROP rows a file. Its out-of-order share is what the
# seed's time jitter gives (measured into the manifest); the fixture and the
# reference stream have no late rows, so the late share is a parameter.
EVENTS_PER_DROP = 500
LATE_SHARE = 0.03             # delivered LATE_DELAY drops after their own
LATE_DELAY = 2
WATERMARK_S = 120             # SensorStreams: withWatermark 2 minutes
WINDOW_S = 600                # the longest window (sliding, 10 minutes)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _u(key_sql: str, seed: int, salt: str) -> str:
    """SQL for a seeded uniform in [0, 1) keyed on a row's identity."""
    return f"((hash(({key_sql})::VARCHAR || '#{seed}#{salt}') % 1000000) / 1000000.0)"


def _tag(seed: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    s, t = seed, ""
    while True:
        t += letters[s % 26]
        s //= 26
        if s == 0:
            return t


def _table_sql(name: str, src: str, seed: int) -> str:
    p = f"'{src}/{name}.parquet'"
    grid = lambda col, key, salt: (
        f"round({col} * (0.9 + 0.2 * {_u(key, seed, salt)}), 2)")
    day_shift = lambda key: f"(floor({_u(key, seed, 'day')} * 7)::INTEGER - 3)"
    if name == "customer":
        return f"""SELECT c_custkey, c_name, c_nationkey,
                   {grid('c_acctbal', 'c_custkey', 'bal')} AS c_acctbal, c_mktsegment
                   FROM {p} ORDER BY c_custkey"""
    if name == "supplier":
        return f"""SELECT s_suppkey, s_name, s_nationkey,
                   {grid('s_acctbal', 's_suppkey', 'bal')} AS s_acctbal
                   FROM {p} ORDER BY s_suppkey"""
    if name == "part":
        return f"""SELECT p_partkey, p_name, p_brand, p_type, p_size,
                   {grid('p_retailprice', 'p_partkey', 'price')} AS p_retailprice
                   FROM {p} ORDER BY p_partkey"""
    if name == "orders":
        return f"""SELECT o_orderkey, o_custkey, o_orderstatus,
                   {grid('o_totalprice', 'o_orderkey', 'price')} AS o_totalprice,
                   o_orderdate + to_days({day_shift('o_orderkey')}) AS o_orderdate,
                   o_orderpriority
                   FROM {p} ORDER BY o_orderkey"""
    if name == "lineitem":
        # ship dates move with their order so ship-after-order stays true
        return f"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                   {grid('l_extendedprice', "l_orderkey || '.' || l_linenumber", 'price')}
                     AS l_extendedprice,
                   l_discount, l_tax, l_returnflag, l_linestatus,
                   l_shipdate + to_days({day_shift('l_orderkey')}) AS l_shipdate
                   FROM {p} ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
    if name == "events":
        return f"""SELECT event_id,
                   ts + to_microseconds((({_u('event_id', seed, 'ts')} - 0.5) * 60e6)::BIGINT) AS ts,
                   user_id, event_type,
                   {grid('value', 'event_id', 'value')} AS value, props
                   FROM {p} ORDER BY event_id"""
    if name == "documents":
        tag = _tag(seed)
        return f"""WITH t AS (
                     SELECT doc_id, array_to_string(list_transform(string_split(text, ' '),
                       w -> CASE WHEN hash(w || '{tag}') % 5 = 0
                                 THEN w || 'q' || '{tag}' ELSE w END), ' ') AS text,
                       lang, source
                     FROM {p})
                   SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
                   FROM t ORDER BY doc_id"""
    if name == "embeddings":
        return f"""WITH d AS (SELECT len(embedding) AS n FROM {p} LIMIT 1)
                   SELECT vec_id,
                     list_transform(
                       list_concat(embedding[({seed} % n) + 1:], embedding[1:({seed} % n)]),
                       (x, i) -> CASE WHEN hash(i * 31 + {seed}) % 2 = 0 THEN x ELSE -x END)
                       AS embedding,
                     label
                   FROM {p}, d ORDER BY vec_id"""
    # region and nation: tiny dimension tables, copied as they are
    return f"SELECT * FROM {p} ORDER BY ALL"


def write_tables(con, src: str, dst: str, seed: int) -> None:
    os.makedirs(dst)
    for name in TABLES:
        con.execute(f"COPY ({_table_sql(name, src, seed)}) TO '{dst}/{name}.parquet' "
                    "(FORMAT PARQUET)")


def write_drops(con, events: str, dst: str, seed: int) -> None:
    """Cut the events table into drop files in event_id order, the order the
    producer emitted them (the arrival order of `events_disorder_report`).
    Each row's own time jitter puts a few percent of them behind an earlier
    row, within the 2-minute watermark. A seeded LATE_SHARE is delivered
    LATE_DELAY drops after its own instead, at the end of that file, but only
    where that puts it past the watermark AND past the end of every window
    that holds it, so Spark drops it under either reading of lateness (row
    time or window end). Spark filters late rows by the watermark of the
    batch before, which has seen the drops up to the row's own only; the
    bound is taken over the rows that never move, so it holds wherever the
    late rows go."""
    rows = con.sql(f"""SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                         user_id, event_type, value, props,
                         epoch(date_trunc('second', ts))::BIGINT AS t
                       FROM '{events}' ORDER BY event_id""").fetchall()
    own = [rows[i:i + EVENTS_PER_DROP] for i in range(0, len(rows), EVENTS_PER_DROP)]
    rng = random.Random(seed)
    movers = [[rng.random() < LATE_SHARE for _ in d] for d in own]
    stay_max, m = [], 0
    for d, mv in zip(own, movers):
        m = max([m] + [r[-1] for r, x in zip(d, mv) if not x])
        stay_max.append(m)
    files = [[] for _ in own]
    arrivals = [[] for _ in own]
    late_ids = []
    for k, (d, mv) in enumerate(zip(own, movers)):
        j = k + LATE_DELAY
        for r, x in zip(d, mv):
            if x and j < len(own) and r[-1] + WINDOW_S + WATERMARK_S < stay_max[k]:
                arrivals[j].append(r)
                late_ids.append(r[0])
            else:
                files[k].append(r)
    os.makedirs(dst)
    keys = ("event_id", "ts", "user_id", "event_type", "value", "props")
    behind, m = 0, 0
    for k, (f, late) in enumerate(zip(files, arrivals)):
        for r in f:
            # out of order: behind the running max of event time, at second
            # grain (the late rows never raise that max)
            behind += r[-1] < m
            m = max(m, r[-1])
        with open(f"{dst}/drop_{k:05d}.json", "w") as out:
            for r in f + late:
                out.write(json.dumps(dict(zip(keys, r)), separators=(",", ":")) + "\n")
    manifest = {"rows": [len(f) + len(late) for f, late in zip(files, arrivals)],
                "late_ids": late_ids,
                "out_of_order_share": round(behind / len(rows), 4),
                "late_share": round(len(late_ids) / len(rows), 4)}
    with open(f"{dst}/manifest.json", "w") as f:
        json.dump(manifest, f)


def base_root(root: str) -> str:
    """The fixture root: `$GRAFTBENCH_BASE`, else the directory the checkout's
    TESTDATA.md names for the sf0.01 tables."""
    if os.environ.get("GRAFTBENCH_BASE"):
        return os.environ["GRAFTBENCH_BASE"]
    try:
        m = re.search(r"`([^`]+)/sf0\.01/?`", open(f"{root}/TESTDATA.md").read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("graftbench: set GRAFTBENCH_BASE (TESTDATA.md names no fixtures)")
    return m.group(1)


def generate(seed: int, out_dir: str, base: str) -> str:
    """Write seed's inputs to out_dir unless already there; returns out_dir.
    Written to a sibling temp dir and renamed, so a cut run leaves no half set."""
    if os.path.exists(f"{out_dir}/_DONE"):
        return out_dir
    if not os.path.isdir(f"{base}/{TIMED_BASE}"):
        raise SystemExit(f"graftbench: base fixture {base}/{TIMED_BASE} not found "
                         "(set GRAFTBENCH_BASE)")
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    write_tables(con, f"{base}/{TIMED_BASE}", f"{tmp}/tables", seed)
    write_drops(con, f"{tmp}/tables/events.parquet", f"{tmp}/drops", seed)
    con.close()
    open(f"{tmp}/_DONE", "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    # gen.py SEED OUT_DIR, from the checkout root
    generate(int(sys.argv[1]), sys.argv[2], base_root(os.getcwd()))
