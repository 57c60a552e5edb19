"""Degenerate-input robustness sweep: run every registered query
against 0-row (or N-row) copies of all ten tables — schemas preserved
byte-for-byte from a source SF dir, including ``events.ts``'s
``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` type — and
report which queries crash instead of returning a well-defined result.

Empty inputs are the realistic degenerate at scale: a filter that
eliminates everything, a partition with no data, a type absent from a
slice.  A query that throws on 0 rows hides a production failure mode
(found: pagerank's teleport constant divided by a zero node count).

The fixture dir is built BY THIS TOOL from the source dir's parquet
schemas (pyarrow ``schema.empty_table()`` / ``table.slice``), so the
sweep is reproducible from a bare checkout.

Usage:  python tools/empty_sweep.py [--rows N] [source_sf_dir]
        (default: --rows 0, source /root/testdata/sf0.001)
Exit code 1 if any query failed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_fixture(src: str, rows: int) -> str:
    import pyarrow.parquet as pq

    dst = f"/root/repo/.degenerate_sf_{rows}"
    os.makedirs(dst, exist_ok=True)
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        if rows == 0:
            tbl = pq.read_schema(os.path.join(src, f)).empty_table()
        else:
            tbl = pq.read_table(os.path.join(src, f)).slice(0, rows)
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


def main() -> int:
    args = [a for a in sys.argv[1:]]
    rows = 0
    if "--rows" in args:
        i = args.index("--rows")
        rows = int(args[i + 1])
        del args[i : i + 2]
    src = args[0] if args else "/root/testdata/sf0.001"
    fixture = build_fixture(src, rows)

    import __spark_entry__ as entry
    # bench/oracle/smoke entry points opt into the WindowExec WARN
    # silence (ADVICE r11 #3): sweeps over 240+ queries drown the log
    # tail; interactive sessions keep the warning.
    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")
    from decisions_kinesis_spark.session import get_session

    spark = get_session(app_name="degenerate-sweep")
    ok, failed = [], {}
    for name, fn in entry.queries().items():
        try:
            n = fn(spark, fixture).count()
            ok.append((name, n))
        except Exception as e:
            first = (str(e).splitlines() or ["<no message>"])[0][:160]
            failed[name] = f"{type(e).__name__}: {first}"
        sys.stdout.write(".")
        sys.stdout.flush()
    print()
    for name, err in sorted(failed.items()):
        print(f"✗ {name}: {err}")
    nonzero = [(n, c) for n, c in ok if c > 0]
    print(
        f"\nrows={rows} ok={len(ok)} nonzero={len(nonzero)}"
        f" failed={len(failed)}"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
