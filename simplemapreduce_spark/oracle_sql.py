"""DuckDB SQL fragments that oracles of more than one module share.

``catalog.py`` states the rule: one definition per oracle fragment,
shared only where every oracle that uses it stays byte-identical.
"""

from __future__ import annotations

from simplemapreduce_spark.functions.time import SESSION_GAP_MICROS

# The DuckDB twin of functions/text.tokens: whitespace split, empty
# tokens dropped.
SQL_TOKENS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

# Gaps-and-islands sessionization of ``events``, from the second line
# of the ``is_new`` CASE of a ``marked`` CTE to the running sum that
# numbers a user's sessions in ``numbered``. An event opens a session
# when it is its user's first or follows the previous one by more than
# the session gap. Each oracle writes its own first CASE line and the
# frame of the running sum; the continuation lines are indented for an
# oracle whose SQL starts four spaces in.
SQL_SESSION_MARKS = f"""OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_MICROS}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id"""

# One row per (user, session): the batch answer of a 30-minute
# session window, which the streaming session window also equals.
SQL_SESSION_WINDOW = f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    {SQL_SESSION_MARKS}
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sess
    """

# The distinct (order, part) pairs of ``lineitem``: the baskets of the
# co-purchase graph and of market-basket mining.
SQL_ORDER_PARTS = "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"
