"""The benchmark's two workloads and their output checks.

Every workload is closed-loop with one client: each op starts after the
previous op and its output check have finished. An op is timed from the call
that builds its DataFrame to the end of a full evaluation through the
``noop`` sink, so no output column or row can be pruned away. Output checks
run outside the timed region.

Before the timed passes, each workload runs a warm-up pass, untimed and
unchecked: the catalog ops once on the same tables, or a landing pass of
1000-row batches into tables of its own. It takes the JIT-compilation cost
of a fresh JVM, which otherwise lands on whichever op the seed puts first
and, for the corpus queries, doubles their time. The warm-up pass cannot serve a timed op
a result: nothing is cached across ops except lazy table scans, and the one
cross-query result memo is cleared before every pass.

* ``catalog_sf0.1``: catalog queries over generated sf0.1 tables, light
  ones where fixed per-query cost (plan build, Catalyst, job scheduling)
  dominates and corpus ones where executor work, shuffles and eager
  checkpoints dominate.
* ``landing_etl``: seeded raw CSV batches through the reference pipeline and
  copy-on-write upserts into processed parquet tables. The only workload
  that writes.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

import datagen

DATA_SEED = 20261017  # the catalog tables are fixed; the run seed orders the ops

# The catalog ops, pinned so that adding or removing a catalog query does
# not change them. A pass of the whole catalog takes minutes on 4 cores, far
# beyond one run's budget, so the workload runs a sample, picked from the
# per-query profile that ``profile_catalog.py`` measures (README.md, "The
# catalog sample").
LIGHT_OPS = [
    # One query per decile of op time over the 154 queries that read neither
    # ``documents`` nor ``embeddings`` (``tests/oracle.catalog_table_reads``):
    # the decile's middle query, or a query of the same decile near it that
    # calls an operator module (``aggregate``, ``joins``, ``template``,
    # ``textops``, ``similarity``).
    "dense_dim_ids",
    "doc_template",
    "snowflake_dims",
    "salted_counts",
    "cohort_ltv_matrix",
    "weekly_cohort_retention",
    "ranking_battery",
    "media_decode",
    "session_path_topk",
    "semantic_search_pipeline",
]
HEAVY_OPS = [
    # Two of the ten corpus queries, together calling the ``neardup``,
    # ``bloom`` and ``textops`` operators: the simhash self-join blocked on
    # ``lang`` (the known quadratic pair kernel) and the bloom-filter
    # decontamination.
    "simhash_hamming_pairs",
    "bloom_decontaminate",
]
CATALOG_OPS = LIGHT_OPS + HEAVY_OPS
CATALOG_SF = 0.1


@dataclass
class Op:
    """One unit of timed work. ``run`` returns the DataFrame that the op
    evaluates in full; ``check`` inspects it afterwards and returns an error
    message, or None when the output is correct. ``in_p50`` says whether the
    op's time counts in ``op_p50_s``."""

    name: str
    run: Callable
    check: Callable | None = None
    in_p50: bool = True


class CatalogRun:
    """A workload over catalog queries: one pass runs every listed query once,
    in an order drawn from the seed."""

    def __init__(self, work: str, names: list[str], seed: int, smoke: bool):
        from bytesme_etl_batch_pipeline_spark.plans import queries as catalog

        self.sf_dir = ensure_catalog_tables(work, 0.001 if smoke else CATALOG_SF)
        missing = [n for n in names if n not in catalog.ORACLE_SQL]
        if missing:
            raise SystemExit(f"perfbench: catalog has no oracle-paired query {missing}")
        self.catalog = catalog
        self.names = list(names)
        self.rng = random.Random(seed)
        self.oracle = CachedOracle(self.sf_dir)

    def warm_ops(self) -> list[Op]:
        return [Op(n, self._runner(n)) for n in self.names]

    def pass_ops(self, index: int) -> list[Op]:
        order = list(self.names)
        self.rng.shuffle(order)
        # op_p50_s is the light queries' median: the corpus ones count in wall_s
        return [Op(n, self._runner(n), self._checker(n), n in LIGHT_OPS) for n in order]

    def begin_pass(self) -> None:
        # A timed op must not be served a result an earlier pass computed:
        # the LSH edge memo is the catalog's one cross-query result cache,
        # and its docstring names clear() as the invalidation call.
        memo = getattr(self.catalog, "_LSH_EDGES_MEMO", None)
        if memo is not None:
            memo.clear()

    def _runner(self, name: str) -> Callable:
        fn = self.catalog.SPARK_QUERIES[name]
        return lambda spark: fn(spark, self.sf_dir)

    def _checker(self, name: str) -> Callable:
        def check(spark, df):
            from tests.oracle import fingerprint_compare

            r = fingerprint_compare(df, self.oracle, self.catalog.ORACLE_SQL[name])
            if r["values_match"] and r["types_match"]:
                return None
            return f"differs from its DuckDB oracle: {_short(r)}"

        return check

    def summary(self) -> dict:
        """The landing layers do not run in this workload: zero writes and rows."""
        return {k: (0.0, unit) for k, unit in LANDING_METRICS.items()}

    def close(self) -> None:
        self.oracle.close()


class JsonBook(dict):
    """A dict kept in a JSON file next to the generated tables, so it lives
    exactly as long as the inputs it describes."""

    def __init__(self, path: str):
        import json

        super().__init__()
        self.path = path
        if os.path.exists(path):
            with open(path) as f:
                self.update(json.load(f))
        self.dirty = False

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.dirty = True

    def save(self) -> None:
        import json

        if self.dirty:
            with open(self.path + ".tmp", "w") as f:
                json.dump(self, f, sort_keys=True)
            os.replace(self.path + ".tmp", self.path)
            self.dirty = False


class CachedOracle:
    """Stands in for the DuckDB connection that ``tests/oracle.
    fingerprint_compare`` queries. The oracle side of a comparison depends
    only on the generated tables and the oracle SQL, so its answers (column
    names and types of the oracle relation, and the one fingerprint row) are
    computed once per checkout and kept next to the tables."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.book = JsonBook(os.path.join(sf_dir, ".oracle_answers.json"))
        self._con = None

    def sql(self, text: str) -> "_OracleAnswer":
        return _OracleAnswer(self, text)

    def _real(self):
        if self._con is None:
            from tests.oracle import duckdb_con

            self._con = duckdb_con(self.sf_dir)
        return self._con

    def answer(self, text: str, part: str):
        import hashlib

        key = hashlib.sha256(text.encode()).hexdigest()
        entry = dict(self.book.get(key, {}))
        if part not in entry:
            rel = self._real().sql(text)
            if part == "row":
                entry[part] = list(rel.fetchone())
            else:
                entry["columns"], entry["types"] = list(rel.columns), [str(t) for t in rel.types]
            self.book[key] = entry
        return entry[part]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
        self.book.save()


class _OracleAnswer:
    def __init__(self, oracle: CachedOracle, text: str):
        self._oracle, self._text = oracle, text

    @property
    def columns(self) -> list[str]:
        return self._oracle.answer(self._text, "columns")

    @property
    def types(self) -> list[str]:
        return self._oracle.answer(self._text, "types")

    def fetchone(self) -> tuple:
        return tuple(self._oracle.answer(self._text, "row"))


def _short(r: dict) -> str:
    keys = ("cols_match", "types_match", "rows_match", "spark_rows", "duck_rows")
    return ", ".join(f"{k}={r.get(k)}" for k in keys)


def ensure_catalog_tables(work: str, sf: float) -> str:
    """Generate the catalog tables once per checkout; later runs reuse them."""
    out = os.path.join(work, "data", f"catalog-sf{sf}-{DATA_SEED}")
    done = os.path.join(out, ".complete")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        datagen.write_catalog_tables(out, sf, DATA_SEED)
        open(done, "w").close()
    return out


# ---------------------------------------------------------------------------
# landing_etl
# ---------------------------------------------------------------------------

# Per-layer metrics only the landing workload produces, with their units.
LANDING_METRICS = {
    "landing.rows_per_s": "1/s",
    "landing.stored_bytes_per_input_byte": "ratio",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.write_amplification": "ratio",
}
LANDING_BATCHES = 2  # a pass: 2 x 4000 rows, about 10 s on 4 cores
LANDING_ROWS = 4000
WARM_ROWS = 1000
SMOKE_ROWS = 200
LANDING_STAGES = ["remove_duplicates", "standardize_categories", "generate_mock_data", "checkpoint"]
LANDING_TABLES = {
    # table -> (upsert key columns)
    "categories": ["category_name"],
    "products": ["product_url"],
    "product_images": ["fact_id", "item_url"],
}


class LandingRun:
    """One pass lands ``LANDING_BATCHES`` seeded batches into empty processed
    tables, one op per batch."""

    def __init__(self, work: str, seed: int, smoke: bool):
        self.root = os.path.join(work, "landing")
        shutil.rmtree(self.root, ignore_errors=True)
        self.seed = seed
        self.batches = 1 if smoke else LANDING_BATCHES
        self.rows = SMOKE_ROWS if smoke else LANDING_ROWS
        self.passes: list[_LandingPass] = []
        self.timed_s = 0.0

    def begin_pass(self) -> None:
        pass

    def warm_ops(self) -> list[Op]:
        # a whole pass of smaller batches, so that the upserts into existing
        # tables are compiled before the timed passes as well
        rows = min(WARM_ROWS, self.rows)
        lp = _LandingPass(os.path.join(self.root, "warm"), datagen.LandingGenerator(0, rows))
        return [Op(f"warm_batch{b}", self._runner(lp, b)) for b in range(self.batches)]

    def pass_ops(self, index: int) -> list[Op]:
        gen = datagen.LandingGenerator(seed=self.seed * 1000 + index, rows_per_batch=self.rows)
        lp = _LandingPass(os.path.join(self.root, f"pass{index}"), gen)
        self.passes.append(lp)
        return [Op(f"batch{b}", self._runner(lp, b), self._checker(lp)) for b in range(self.batches)]

    def _runner(self, lp: "_LandingPass", b: int) -> Callable:
        batch_dir = os.path.join(lp.dir, "landing", f"b{b}")

        def prepare():
            info = lp.gen.write_batch(batch_dir)
            lp.input_rows += info["rows"]
            lp.input_bytes += info["bytes"]

        def run(spark):
            return land_batch(spark, batch_dir, b, lp.table)

        run.prepare = prepare
        return run

    def _checker(self, lp: "_LandingPass") -> Callable:
        def check(spark, df):
            # every upsert rewrites its whole table (copy-on-write)
            written = [_dir_size(lp.table(t)) for t in LANDING_TABLES]
            lp.bytes_written += sum(size for size, _ in written)
            lp.files_written += sum(n for _, n in written)
            lp.stored_bytes = sum(size for size, _ in written)
            return check_landing_tables(lp.table, len(lp.gen.urls), df.collect())

        return check

    def summary(self) -> dict:
        """Rows landed per second of timed work over all passes; the storage
        figures of the last pass (every pass starts from empty tables)."""
        last = self.passes[-1]
        rows = sum(lp.input_rows for lp in self.passes)
        return {
            "landing.rows_per_s": (rows / self.timed_s if self.timed_s else 0.0, "1/s"),
            "landing.stored_bytes_per_input_byte": (_ratio(last.stored_bytes, last.input_bytes), "ratio"),
            "sources.bytes_written": (float(last.bytes_written), "bytes"),
            "sources.files_written": (float(last.files_written), "count"),
            "sources.write_amplification": (_ratio(last.bytes_written, last.stored_bytes), "ratio"),
        }

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


@dataclass
class _LandingPass:
    dir: str
    gen: datagen.LandingGenerator
    input_rows: int = 0
    input_bytes: int = 0
    bytes_written: int = 0
    files_written: int = 0
    stored_bytes: int = 0

    def table(self, name: str) -> str:
        return os.path.join(self.dir, "tables", name)


def land_batch(spark, batch_dir: str, b: int, table: Callable[[str], str]):
    """One landing op: scan the batch's CSVs, run the reference stages with a
    checkpoint barrier, split into the snowflake tables, upsert each into its
    processed parquet table, and return a read query over the result."""
    from pyspark.sql import functions as F

    from bytesme_etl_batch_pipeline_spark.operators import normalize
    from bytesme_etl_batch_pipeline_spark.plans import pipeline
    from bytesme_etl_batch_pipeline_spark.sources import files

    pipeline.register_reference_stages()
    raw = files.read_csv(spark, batch_dir, schema=landing_schema(), with_lineage=True)
    outputs, report = pipeline.run_pipeline({"batch": raw}, LANDING_STAGES)
    if report.n_error:
        raise RuntimeError(report.results[0].error)
    wide = outputs["batch"].withColumn("batch_id", F.lit(b))
    split = normalize.snowflake_split(
        wide,
        dim_key="category_name",
        dim_attrs=["product_brand"],
        fact_key="product_url",
        child_url_col="product_image",
        child_name_col="product_image_name",
        order_by=["product_url"],
    )
    parts = {
        "categories": split.dims.withColumn("batch_id", F.lit(b)),
        "products": split.facts,
        "product_images": split.children.withColumn("batch_id", F.lit(b)),
    }
    for name, df in parts.items():
        files.merge_upsert_parquet(spark, table(name), df, LANDING_TABLES[name], "batch_id")
    report.free_barriers(spark)
    products = spark.read.parquet(table("products"))
    categories = spark.read.parquet(table("categories"))
    return (
        products.drop("category_name")
        .join(categories.select("dim_id", "category_name"), "dim_id")
        .groupBy("category_name")
        .agg(
            F.count("*").alias("products"),
            F.avg("product_overall_stars").alias("avg_stars"),
            F.sum("price_num").alias("list_value"),
        )
    )


def landing_schema():
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType([StructField(c, StringType()) for c in datagen.LANDING_COLUMNS])


def _dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def check_landing_tables(table: Callable[[str], str], n_keys: int, summary_rows) -> str | None:
    """Invariants the generator knows, checked with DuckDB on the stored
    parquet: one product per landed key, unique keys in every table, and
    foreign keys that resolve to the category of the same name."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in LANDING_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table(t)}/*.parquet')")
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        problems = []
        n = q("SELECT count(*) FROM products")
        if n != n_keys:
            problems.append(f"products has {n} rows for {n_keys} landed keys")
        for t, keys in LANDING_TABLES.items():
            k = ", ".join(keys)
            dup = q(f"SELECT count(*) FROM (SELECT {k} FROM {t} GROUP BY {k} HAVING count(*) > 1)")
            if dup:
                problems.append(f"{t} has {dup} duplicated keys")
        if q("SELECT count(*) FROM (SELECT dim_id FROM categories GROUP BY dim_id HAVING count(*) > 1)"):
            problems.append("categories has duplicated dim_id")
        dangling = q(
            "SELECT count(*) FROM products p LEFT JOIN categories c ON p.dim_id = c.dim_id "
            "WHERE c.dim_id IS NULL OR c.category_name IS DISTINCT FROM p.category_name"
        )
        if dangling:
            problems.append(f"{dangling} products do not resolve to their category")
        orphans = q(
            "SELECT count(*) FROM product_images i ANTI JOIN products p ON i.fact_id = p.fact_id"
        )
        if orphans:
            problems.append(f"{orphans} product images have no product")
        if sum(r["products"] for r in summary_rows) != n_keys:
            problems.append("the read query does not count every product")
        return "; ".join(problems) or None
    finally:
        con.close()


WORKLOADS = {
    "catalog_sf0.1": lambda work, seed, smoke: CatalogRun(work, CATALOG_OPS, seed, smoke),
    "landing_etl": lambda work, seed, smoke: LandingRun(work, seed, smoke),
}
