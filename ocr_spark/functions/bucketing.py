"""URL-hash bucketing + skewed-host salting as Catalyst expressions.

North-rule requirement: "partitions the corpus by url-hash buckets with
explicit salting for skewed hosts" (BASELINE.json north_star). Everything
here is a JVM-side column expression — xxhash64/pmod — so bucketing costs
no Python round-trip and survives whole-stage codegen.

Reference analog of the skew policy: wide merged segments are detected as
outliers vs 1.5x the average width and split into round(w/avg) pieces
(/root/reference/overflow/revised_code.py:249-306). Here "hosts above
1.5x the mean row count" get their rows re-salted across SALT_N sub-keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 256
DEFAULT_SALT_N = 16
SKEW_FACTOR = 1.5


def host_of(url: Column) -> Column:
    """Extract the host from a url without UDFs."""
    return F.parse_url(url, F.lit("HOST"))


def url_bucket(url: Column, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Stable bucket id in [0, n_buckets) from the full url."""
    return F.pmod(F.xxhash64(url), F.lit(n_buckets)).cast("int")


def hot_hosts(pages: DataFrame, skew_factor: float = SKEW_FACTOR) -> DataFrame:
    """Hosts whose row count exceeds skew_factor x mean host count.

    One partial-aggregated groupBy over the url column only (column
    pruning keeps the html blobs out of this shuffle entirely). The mean
    is a window over all host counts, so the url column is scanned once:
    a separate ``counts.agg`` scans it a second time, since the join's
    inferred ``host IS NOT NULL`` filter keeps the two scans from being
    one reused exchange. The window's single partition holds one row
    per distinct host, the set whose hot part is broadcast anyway (so
    WindowExec's "No Partition Defined" warning is expected here).
    """
    counts = (
        pages.select(host_of(F.col("url")).alias("host"))
        .groupBy("host").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.withColumn("_mean_cnt", F.avg("cnt").over(Window.partitionBy()))
        .where(F.col("cnt") > F.col("_mean_cnt") * F.lit(skew_factor))
        .select("host", "cnt")
    )


def salted_partition_key(
    url: Column,
    is_hot: Column,
    n_buckets: int = DEFAULT_BUCKETS,
    salt_n: int = DEFAULT_SALT_N,
) -> tuple[Column, Column]:
    """(bucket, salt) pair: host-hash bucket, plus a url-hash salt that is
    nonzero only for hot hosts — cold hosts stay co-located by host while
    hot hosts fan out over salt_n partitions."""
    bucket = F.pmod(F.xxhash64(host_of(url)), F.lit(n_buckets)).cast("int")
    salt = F.when(
        is_hot, F.pmod(F.xxhash64(url), F.lit(salt_n)).cast("int")
    ).otherwise(F.lit(0))
    return bucket, salt


def zorder_key(cols: list[Column], bits: int = 9) -> Column:
    """Morton / Z-order key: interleave the low ``bits`` bits of each
    (non-negative integer) column — the multi-column data-layout key
    behind lakehouse OPTIMIZE ZORDER (Morton 1966; Delta/Iceberg use it
    so per-file min/max statistics prune on EVERY clustered column, not
    just the leading sort key). Pure codegen'd shift/mask arithmetic —
    ``bits × n`` two-operator terms, no UDF — and bit-exactly
    reproducible in the oracle engine (zorder_sql builds the same
    expression string).
    """
    n = len(cols)
    mask = (1 << bits) - 1
    z: Column | None = None
    for j, c in enumerate(cols):
        v = c.cast("long").bitwiseAND(F.lit(mask))
        for i in range(bits):
            t = F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)),
                            i * n + j)
            z = t if z is None else z + t
    assert z is not None
    return z.cast("long")


def zorder_sql(exprs: list[str], bits: int = 9) -> str:
    """The identical Z-order arithmetic as a SQL string (DuckDB `&`,
    `>>`, `<<`) — keeps the oracle bit-exact with zorder_key."""
    n = len(exprs)
    mask = (1 << bits) - 1
    terms = [f"((((({e}) & {mask}) >> {i}) & 1) << {i * n + j})"
             for j, e in enumerate(exprs) for i in range(bits)]
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def zorder_layout(df: DataFrame, cols: list[str], n_files: int,
                  bits: int = 9) -> DataFrame:
    """Cluster a table for multi-column data skipping: range-partition
    on the Z-order key, sort within partitions, one output file per
    range. At 100 TB this is the write-side lever that turns min/max
    file statistics into real scan pruning on every clustered column;
    the range partitioner samples the key distribution, so skew in one
    column cannot pile rows into one file the way a naive
    partitionBy(col) would."""
    z = zorder_key([F.col(c) for c in cols], bits)
    return (df.withColumn("_z", z)
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z"))
