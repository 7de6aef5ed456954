"""datafusion_table_providers_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of
``datafusion-contrib/datafusion-table-providers`` (reference studied at
/root/reference, v0.13.0):

- External-system connectors (DuckDB, SQLite, generic remote SQL, MongoDB,
  Arrow Flight) built on the PySpark Python Data Source API with
  projection / filter / limit pushdown  (reference: crates/common/src/sql/
  sql_provider_datafusion/mod.rs — SqlTable/SqlExec).
- A write path: CREATE-from-schema DDL, append, atomic overwrite, upsert
  (ON CONFLICT), DELETE, UPDATE, constraint pre-validation
  (reference: crates/duckdb/src/write.rs, crates/common/src/util/*).
- Whole-plan federation: queries whose tables share one compute context are
  unparsed and pushed to the backing engine as a single SQL statement
  (reference: crates/common/src/sql/sql_provider_datafusion/federation.rs).
- The full relational surface (SURVEY.md §2.B) executed by Spark Catalyst.
- Beyond-parity LLM-data-pipeline operators: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding-cosine), similarity search,
  multimodal column plumbing, text analysis — designed for 100 TB scale.

Nothing here is a port: Spark supplies parsing, optimization (Catalyst),
and distributed execution; this package supplies connectors, pushdown,
federation, the write layer, and the data-pipeline operator library.
"""

from datafusion_table_providers_spark.session import get_spark, tune_session
from datafusion_table_providers_spark.catalog import load_tables
from datafusion_table_providers_spark.engine import Engine

__all__ = ["get_spark", "tune_session", "load_tables", "Engine"]
__version__ = "0.1.0"
