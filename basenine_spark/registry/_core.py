"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 (plus the extension surface) as a named (Spark query,
DuckDB oracle SQL) pair.

Conventions (driver compare: row-count + schema + order-insensitive
value-hash, columns sorted by name):

* every computed column is aliased identically on both sides;
* doubles that pass through an aggregation are ``round(…, 2..6)``-ed on
  both sides so accumulation order can't flip the value;
* CAVEAT on ``round()`` itself (found round 5, ``skew_profile``):
  Spark rounds the SHORTEST DECIMAL REPR of the double (BigDecimal
  HALF_UP on "1.035") while DuckDB rounds the binary value — they can
  disagree when a quotient's shortest repr lands exactly on a half.
  The existing entries are green because their rounded quantities
  rarely land on repr-halves, but for ratio-like outputs prefer the
  engine-stable form ``floor(x * 10^k + 0.5) / 10^k`` on BOTH sides;
* counts/sizes are cast to bigint on both sides (Spark ``size`` is int,
  DuckDB ``len`` is bigint; DuckDB ``SUM(BIGINT)`` is HUGEINT — cast);
* timestamps never appear raw in an output — only as epoch-millis
  bigints (``ts div 1e6`` in Spark == ``epoch_ms(ts)`` in DuckDB, both
  integer floor).

Entries without an oracle (``ORACLES[name] is None``) are the genuinely
approximate operators (LSH candidate generation) — the driver records a
rows-only check for those, which is the honest contract.
"""



from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..ops.util import stable_round_sql

QueryFn = Callable[[SparkSession, str], DataFrame]

SPARK_QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str | None] = {}


def _register(name: str, fn: QueryFn, sql: str | None) -> None:
    SPARK_QUERIES[name] = fn
    # Oracle SQL is written with natural round(e, k); registration
    # rewrites it to the engine-stable FLOOR idiom so the DuckDB side
    # can never diverge from a stable_round Spark side on half-way
    # doubles (VERDICT r9 item 4: a Spark-only sweep left 26 oracles
    # on native round(), a latent negative-half divergence class).
    ORACLES[name] = stable_round_sql(sql) if sql else sql


