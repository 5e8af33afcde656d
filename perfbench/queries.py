"""The client query set over the tables a snapshot ETL writes, each
with its DuckDB twin over the same parquet files.

Every query returns a few rows, so the result crosses to the driver
cheaply and can be compared with DuckDB's."""

from __future__ import annotations

import os

from pyspark.sql import Window, functions as F

from solana_snapshot_etl_tools_spark.plans import build_tables as BT

NAMES = ("nft_holdings", "top_holders", "lamports_by_owner", "metadata_lookup",
         "accounts_per_mint")


def _norm(row) -> tuple:
    return tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in row)


class QuerySet:
    """``tables``: the ``build_all_tables`` output dir; ``bucketed``: the
    ``build_bucketed_token_tables`` dir (its catalog tables must exist
    in the session)."""

    def __init__(self, spark, tables: str, bucketed: str) -> None:
        self.spark, self.tables, self.bucketed = spark, tables, bucketed
        read = lambda t: spark.read.parquet(os.path.join(tables, t))  # noqa: E731
        self.account = read("account")
        self.token_account = read("token_account")
        self.token_mint = read("token_mint")
        self.token_metadata = read("token_metadata")

    def frame(self, name: str, key: bytes | None = None):
        ta = self.token_account
        if name == "nft_holdings":
            return BT.nft_holdings(self.spark).agg(
                F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amount"),
                F.countDistinct("mint").alias("mints"))
        if name == "top_holders":
            w = Window.partitionBy("mint").orderBy(F.desc("amount"), "pubkey")
            top = ta.withColumn("rk", F.row_number().over(w)).filter("rk <= 3")
            return top.agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amount"),
                           F.countDistinct("owner").alias("owners"))
        if name == "lamports_by_owner":
            return (self.account.groupBy("owner")
                    .agg(F.sum("lamports").alias("lamports"), F.count(F.lit(1)).alias("n"))
                    .orderBy("owner"))
        if name == "metadata_lookup":
            return self.token_metadata.filter(F.col("pubkey") == F.lit(key))
        if name == "accounts_per_mint":
            per_mint = ta.groupBy("mint").agg(F.count(F.lit(1)).alias("n"))
            return (per_mint.join(self.token_mint.select(F.col("pubkey").alias("mint"), "supply"),
                                  "mint")
                    .orderBy(F.desc("n"), "mint").limit(10))
        raise ValueError(name)

    def run(self, name: str, key: bytes | None = None) -> list[tuple]:
        return [_norm(r) for r in self.frame(name, key).collect()]

    def duckdb(self, name: str, key: bytes | None = None) -> list[tuple]:
        import duckdb

        def src(path):
            return f"read_parquet('{os.path.join(path, '**', '*.parquet')}')"

        ta = src(os.path.join(self.tables, "token_account"))
        sql = {
            "nft_holdings": f"""
                SELECT count(*), sum(a.amount), count(DISTINCT a.mint)
                FROM {src(os.path.join(self.bucketed, 'token_account_bkt'))} a
                JOIN {src(os.path.join(self.bucketed, 'token_metadata_bkt'))} m USING (mint)
                WHERE a.amount > 0""",
            "top_holders": f"""
                SELECT count(*), sum(amount), count(DISTINCT owner) FROM (
                  SELECT *, row_number() OVER (PARTITION BY mint
                                               ORDER BY amount DESC, pubkey) AS rk
                  FROM {ta}) WHERE rk <= 3""",
            "lamports_by_owner": f"""
                SELECT owner, sum(lamports), count(*)
                FROM {src(os.path.join(self.tables, 'account'))}
                GROUP BY owner ORDER BY owner""",
            "metadata_lookup": f"""
                SELECT * FROM {src(os.path.join(self.tables, 'token_metadata'))}
                WHERE pubkey = $key""",
            "accounts_per_mint": f"""
                SELECT p.mint, p.n, m.supply FROM
                  (SELECT mint, count(*) AS n FROM {ta} GROUP BY mint) p
                JOIN (SELECT pubkey AS mint, supply
                      FROM {src(os.path.join(self.tables, 'token_mint'))}) m USING (mint)
                ORDER BY p.n DESC, p.mint LIMIT 10""",
        }[name]
        con = duckdb.connect()
        try:
            params = {"key": key} if name == "metadata_lookup" else None
            rows = con.execute(sql, params).fetchall() if params else con.execute(sql).fetchall()
        finally:
            con.close()
        return [_norm(r) for r in rows]


def exchanges(df) -> int:
    """Exchange nodes in the final physical plan of an executed frame."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return sum(1 for line in plan.splitlines() if "Exchange" in line)
