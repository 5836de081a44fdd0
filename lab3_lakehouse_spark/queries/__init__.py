"""Query registry: every implemented operator exposed as a named query.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable registered via
``@query(name, oracle=...)``; the oracle is the ANSI-SQL equivalent run
by DuckDB in the driver's differential check. Every registered query
carries an oracle: a real SQL twin where the operator is
SQL-expressible (including recursive CTEs for graph ops), or an
assert-style contract (recall floor, rank-error bound, completeness
check) emitted as SQL-checkable columns where it is not. A contract
that adds verification work registers its production body with
``@body(name)`` right after it (``BODIES``, what ``bench.py`` times).

Import side effects populate the registry.
"""

from lab3_lakehouse_spark.queries.registry import BODIES, ORACLES, QUERIES, body, query  # noqa: F401
from lab3_lakehouse_spark.queries import parity  # noqa: F401, E402
from lab3_lakehouse_spark.queries import relational  # noqa: F401, E402
from lab3_lakehouse_spark.queries import llmdata  # noqa: F401, E402
from lab3_lakehouse_spark.queries import streamml  # noqa: F401, E402
from lab3_lakehouse_spark.queries import temporal  # noqa: F401, E402
from lab3_lakehouse_spark.queries import analytics  # noqa: F401, E402
from lab3_lakehouse_spark.queries import mutation  # noqa: F401, E402
from lab3_lakehouse_spark.queries import corpus  # noqa: F401, E402
from lab3_lakehouse_spark.queries import scaleops  # noqa: F401, E402
from lab3_lakehouse_spark.queries import sqlsuite  # noqa: F401, E402
from lab3_lakehouse_spark.queries import statops  # noqa: F401, E402
from lab3_lakehouse_spark.queries import advstats  # noqa: F401, E402
