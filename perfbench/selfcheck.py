"""Self-check of the benchmark's counting code on the FIXTURES.md F1 table.

The quadrant geometry table (4 data files, one per quadrant; ids 0..39;
each id a POINT and its 0.5-buffer POLYGON) has 13 golden
(files-scanned, rows-returned) pairs.  ``check`` runs the same
``run_window`` the workloads time, and also compares the files the
ScanReport counted, so a benchmark whose counting disagrees with the
goldens refuses to report.
"""

from __future__ import annotations

import sys

from iceberg_geo_poc_spark.geo import Point, box, geometry_to_wkb
from iceberg_geo_poc_spark.table import Catalog, E
from iceberg_geo_poc_spark.table import reporting as RPT

from spans import Tracer
from workloads import run_window

_ENV = box(0.5, -1.1, 1.1, 1.1)

# (table, predicate, files scanned, rows) — FIXTURES.md F1
GOLDEN = [
    ("flat", E.st_intersects("geom", Point(1, 1)), 1, 2),
    ("flat", E.st_intersects("geom", Point(0, 0)), 0, 0),
    ("flat", E.st_intersects("geom", Point(1.5, 1.5)), 1, 0),
    ("flat", E.st_intersects("geom", _ENV), 2, 4),
    ("flat", E.st_intersects("geom", box(0, 0, 0.75, 0.75)), 1, 1),
    ("flat", E.st_intersects("geom", box(0.75, 0.75, 1.25, 1.25)), 1, 2),
    ("flat", E.st_covers("geom", Point(1, 1)), 1, 2),
    ("flat", E.st_covers("geom", Point(0, 0)), 0, 0),
    ("flat", E.st_covers("geom", Point(1.5, 1.5)), 1, 0),
    ("flat", E.st_covers("geom", box(0, 0, 0.75, 0.75)), 0, 0),
    ("flat", E.st_covers("geom", box(0.75, 0.75, 1.25, 1.25)), 1, 1),
    ("flat", E.le("id", 10) & E.st_intersects("geom", _ENV), 1, 2),
    ("part", E.eq("part", 3) & E.st_intersects("geom", _ENV), 1, 2),
]

_DDL = "id BIGINT, part INT, geom BINARY"


def _quadrant_rows(quadrant: int) -> list[tuple]:
    rows = []
    sx, sy = (1, -1, -1, 1)[quadrant], (1, 1, -1, -1)[quadrant]
    for k in range(1, 11):
        i = quadrant * 10 + k - 1
        c = Point(float(sx * k), float(sy * k))
        rows.append((i, quadrant, bytearray(geometry_to_wkb(c))))
        rows.append((i, quadrant, bytearray(geometry_to_wkb(c.buffer(0.5)))))
    return rows


def build(spark, warehouse: str) -> dict:
    """The F1 table (one append per quadrant) and its partitioned variant
    (identity partition on ``part``; one append, one file per partition)."""
    cat = Catalog(warehouse, spark)
    flat = cat.create_table("f1", _DDL, geometry_columns={"geom": "wkb"})
    for q in range(4):
        flat.append(spark.createDataFrame(_quadrant_rows(q), _DDL).coalesce(1))
    part = cat.create_table(
        "f1_part", _DDL, partition_by=[("part", "identity")],
        geometry_columns={"geom": "wkb"},
    )
    every = [r for q in range(4) for r in _quadrant_rows(q)]
    part.append(spark.createDataFrame(every, _DDL).coalesce(1))
    return {"flat": flat, "part": part}


def check(spark, warehouse: str) -> list[str]:
    """Mismatch descriptions; empty when every golden pair holds."""
    tables = build(spark, warehouse)
    reporter = RPT.InMemoryMetricsReporter()
    RPT.register_metrics_reporter(warehouse, reporter)
    tracer = Tracer(False)
    problems = []
    try:
        for name, t in tables.items():
            n = len(t.scan().files())
            if n != 4:
                problems.append(f"{name}: {n} data files, expected 4")
        for name, pred, want_files, want_rows in GOLDEN:
            before = len(reporter.reports)
            files, (rows, _sid, _sv) = run_window(tables[name], pred, tracer, value="part")
            counted = [
                r.result_data_files
                for r in reporter.reports[before:]
                if isinstance(r, RPT.ScanReport)
            ]
            if (len(files), rows) != (want_files, want_rows) or counted != [want_files]:
                problems.append(
                    f"{name} {pred!r}: files={len(files)} report={counted} rows={rows}, "
                    f"expected files={want_files} rows={want_rows}"
                )
    finally:
        RPT.unregister_metrics_reporter(reporter)
    return problems


def main(argv: list[str]) -> int:
    """``python3 perfbench/selfcheck.py WAREHOUSE``: exit 1 on a mismatch.
    The environment (Spark, PYTHONPATH) is the caller's."""
    from iceberg_geo_poc_spark.session import get_spark

    from workloads import stop_spark

    spark = get_spark("perfbench-selfcheck")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        problems = check(spark, argv[0])
    finally:
        stop_spark(spark)
    for p in problems:
        print(f"perfbench: F1 self-check mismatch: {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.exit(main(sys.argv[1:]))
