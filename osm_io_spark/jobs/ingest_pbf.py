"""spark-submit entrypoint: PBF → typed snapshot tables (ingest).

Decodes an ``.osm.pbf`` file with the vectorized Arrow kernels
(osm_io_spark.sources.pbf.decode — numpy cumsum delta decode, dictionary
take) and commits ``nodes`` / ``ways`` / ``relations`` tables into the
snapshot catalog, each with per-partition row/byte metrics and lineage
pointing at the source file. This is the Spark-first analogue of the
reference's Reader::elements() pipeline
(/root/reference/src/osm/pbf/reader.rs:124-135).

    spark-submit --py-files engine.zip \\
        -m osm_io_spark.jobs.ingest_pbf -- \\
        --pbf fixture.osm.pbf --catalog /tmp/catalog
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from ..plans.snapshots import SnapshotCatalog
from ..session import get_spark


def run(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pbf", required=True)
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--cell-res", type=int, default=16,
                    help="Z-order cell resolution attached to nodes")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark("osm-io-spark-ingest-pbf", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    from .. import queries as Q
    from ..functions import cells as C
    from ..functions.steps import select_steps
    from ..sources.pbf import decode as PD

    Q.ensure_shipped(spark)
    els = PD.read_pbf(spark, args.pbf).cache()
    lineage = {"source": args.pbf, "format": "osm.pbf"}
    catalog = SnapshotCatalog(args.catalog)

    out = {}
    for etype, cols in (
            ("node", ["id", "version", "lat", "lon", "timestamp", "changeset",
                      "uid", "user", "visible", "tags"]),
            ("way", ["id", "version", "timestamp", "changeset", "uid", "user",
                     "visible", "tags", "refs"]),
            ("relation", ["id", "version", "timestamp", "changeset", "uid",
                          "user", "visible", "tags", "members"])):
        df = els.filter(F.col("etype") == etype).select(*cols)
        if etype == "node":
            df = select_steps(df, C.cell_steps("lat", "lon", args.cell_res,
                                               "cell"), keep=("cell",))
        table = catalog.table(f"{etype}s")
        snap = table.write(df, operation="ingest_pbf", lineage=lineage)
        out[f"{etype}s"] = {"rows": snap.summary["total_rows"],
                            "bytes": snap.summary["total_bytes"],
                            "snapshot_version": snap.version}
    els.unpersist()
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    run()
