"""The registered query classes of the driver contract
(``__spark_entry__.py``). ``QUERIES`` maps each class name to a
``(spark, sf_dir) -> DataFrame`` function; ``ORACLE_SQL`` maps the
oracled classes to DuckDB SQL over the same tables, and the driver runs
both and hash-compares them after sorting the columns by name.

Each class is declared once, by ``@query`` (``_registry``) on its
function in the module of its family; ``tools/inventory.py`` lists
them in README.md.
"""

from datasketches_rust_spark.queries._registry import tables
from datasketches_rust_spark.queries.dedup import *  # noqa: F401,F403
from datasketches_rust_spark.queries.relational import *  # noqa: F401,F403
from datasketches_rust_spark.queries.sketch import *  # noqa: F401,F403
from datasketches_rust_spark.queries.stats import *  # noqa: F401,F403
from datasketches_rust_spark.queries.streaming import *  # noqa: F401,F403
from datasketches_rust_spark.queries.timeseries import *  # noqa: F401,F403

QUERIES, ORACLE_SQL = tables()
