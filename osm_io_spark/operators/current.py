"""Latest-version dedup — the reference's "current_*" table semantics
(/root/reference/src/osm/apidb_dump/write/current_object.rs:18-31,55-68):
keep the highest version per id; drop the id entirely if its latest
version is invisible. SURVEY.md A5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def latest_version(df: DataFrame, id_col: str | list[str] = "id",
                   version_col: str = "version") -> DataFrame:
    w = Window.partitionBy(id_col).orderBy(F.col(version_col).desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def current_view(df: DataFrame, id_col: str | list[str] = "id",
                 version_col: str = "version",
                 visible_col: str = "visible") -> DataFrame:
    """current_* semantics: latest version per id, invisible latest
    suppresses the id. ``id_col`` may be a list of key columns
    (``["etype", "id"]``: every element type in one window)."""
    return latest_version(df, id_col, version_col).filter(F.col(visible_col))
