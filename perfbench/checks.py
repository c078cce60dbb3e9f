"""Output checks of the three workloads, made without the program.

Each check returns a list of problems; an empty list means the output
is correct.
- ingest_batch: landed row counts per mountpoint against counts taken
  from the generated frames (`MsmHeader` in the benchmark's Scala code),
  read back with DuckDB.
- dashboard: each panel's result against DuckDB running the panel's
  oracle SQL over the same parquet files, compared as exact values.
- ingest_stream: conservation properties of the emitted flow windows.
"""
import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def check_ingest(land, expected):
    """`expected`: mountpoint -> {"frames", "obs", "coords"}."""
    con = duckdb.connect()
    try:
        def per_mount(sql):
            return {r[0]: r[1:] for r in con.sql(sql).fetchall()}
        pkgs = per_mount(
            "SELECT mountpoint, count(*), count(DISTINCT rtcm_package_id) "
            f"FROM read_parquet('{land}/rtcm_packages/*.parquet') GROUP BY 1")
        obs = per_mount("SELECT mountpoint, count(*) "
                        f"FROM read_parquet('{land}/observations/*/*.parquet') GROUP BY 1")
        coords = per_mount("SELECT mountpoint, count(*) "
                           f"FROM read_parquet('{land}/coordinates_log/*.parquet') GROUP BY 1")
    except duckdb.Error as e:
        return [f"landed tables unreadable: {e}"]
    finally:
        con.close()
    problems = []
    for m, e in sorted(expected.items()):
        rows, ids = pkgs.get(m, (0, 0))
        if rows != e["frames"]:
            problems.append(f"{m}: {rows} package rows for {e['frames']} frames")
        if ids != rows:
            problems.append(f"{m}: {rows - ids} repeated package ids")
        if obs.get(m, (0,))[0] != e["obs"]:
            problems.append(f"{m}: {obs.get(m, (0,))[0]} observation rows for {e['obs']} cells")
        if coords.get(m, (0,))[0] != e["coords"]:
            problems.append(f"{m}: {coords.get(m, (0,))[0]} coordinate rows "
                            f"for {e['coords']} 1005/1006 frames")
    for m in sorted((set(pkgs) | set(obs) | set(coords)) - set(expected)):
        problems.append(f"rows for a mountpoint never generated: {m}")
    return problems


# The exact-value rule of the program's correctness gate: columns sorted
# by name, rows sorted, cells compared as exact strings (float repr,
# decimal with its scale), NaN distinct from NULL, and no decimal or
# int32 output column on either side. Kept here rather than imported so
# that the benchmark's check does not move when the program's tools do.
def _banned(schema):
    return [f"{f.name}:{f.type}" for f in schema
            if pa.types.is_decimal(f.type) or f.type == pa.int32()]


def _cells(values):
    return ["<NULL>" if v is None else
            ("<NaN>" if v != v else repr(v)) if isinstance(v, float) else str(v)
            for v in values]


def _canon(tbl):
    cols = sorted(tbl.column_names)
    return cols, sorted(zip(*(_cells(tbl.column(c).to_pylist()) for c in cols)))


def compare(got, expected):
    """Problems between a result table and its oracle table."""
    bad = _banned(got.schema) + _banned(expected.schema)
    if bad:
        return [f"decimal/int32 output column: {bad}"]
    gc, gr = _canon(got)
    ec, er = _canon(expected)
    if gc != ec:
        return [f"columns {gc} vs oracle {ec}"]
    if gr != er:
        diff = next(((a, b) for a, b in zip(gr, er) if a != b), None)
        return [f"{len(gr)} rows vs oracle {len(er)}; first difference {diff}"]
    return []


def check_dashboard(finish):
    """Panel name -> problems, for every panel of the run."""
    con = duckdb.connect()
    out = {}
    try:
        for t in finish["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{finish['data']}/{t}.parquet')")
        for name in finish["panels"]:
            sql = finish["oracle_sql"].get(name)
            parts = sorted(glob.glob(os.path.join(finish["results"], name, "*.parquet")))
            if sql is None:
                out[name] = ["no oracle SQL"]
            elif name not in finish["written"] or not parts:
                out[name] = ["no result written"]
            else:
                got = pa.concat_tables([pq.read_table(p) for p in parts])
                try:
                    out[name] = compare(got, con.sql(sql).arrow())
                except duckdb.Error as e:
                    out[name] = [f"oracle SQL failed: {e}"]
    finally:
        con.close()
    return out


def check_stream(info, expected, flush_mount):
    """`info`: the round's emitted windows [bucket, mountpoint, bytes]
    and the watermark drops of each progress record; `expected`:
    mountpoint -> {"bytes"}."""
    problems = []
    windows = [w for w in info["windows"] if w[1] != flush_mount]
    keys = [(b, m) for b, m, _ in windows]
    if len(keys) != len(set(keys)):
        problems.append(f"{len(keys) - len(set(keys))} windows emitted twice")
    sums = {}
    for _, m, n in windows:
        sums[m] = sums.get(m, 0) + n
    for m, e in sorted(expected.items()):
        if sums.get(m, 0) != e["bytes"]:
            problems.append(f"{m}: {sums.get(m, 0)} window bytes for {e['bytes']} frame bytes")
    for m in sorted(set(sums) - set(expected)):
        problems.append(f"windows of a mountpoint never generated: {m}")
    if sum(sums.values()) != sum(e["bytes"] for e in expected.values()):
        problems.append(f"{sum(sums.values())} window bytes in all for "
                        f"{sum(e['bytes'] for e in expected.values())} frame bytes")
    dropped = [d for d in info["dropped_by_watermark"] if d != 0]
    if dropped:
        problems.append(f"rows dropped by the watermark in {len(dropped)} micro-batches")
    if not info["dropped_by_watermark"]:
        problems.append("no progress records")
    return problems
