r"""The oracle-gated query suite.

Every operator claimed in SURVEY.md §2 (plus the training-data-pipeline
extensions) is exercised by a named query implemented twice:

- a PySpark implementation (DataFrame/SQL, Catalyst-planned) in QUERIES
- an equivalent ANSI-SQL string for the DuckDB oracle in ORACLES

Determinism contract (so the driver's order-insensitive value-hash matches):

- Aggregates over doubles cast each element to DECIMAL(18,6) BEFORE summing —
  decimal addition is exact and order-independent, where double summation
  differs in low bits between engines/partitionings — then cast the final
  value back to DOUBLE (<= 15 significant digits: lossless both ways).
- Timestamps are emitted as epoch microseconds (unix_micros / epoch_us), never
  raw timestamp values, to sidestep tz/precision formatting differences.
- Every top-k / argmax has a total order (unique key as final tie-break).
- MEANS of decimal sums must round in exact integer arithmetic
  (functions/exact.py sum6_long + mean6; SQL twins _sum6_sql/_mean6_sql
  in suite/llm.py), never ``ROUND(double_sum / n, 6)``: a quotient
  landing exactly on a half at the 7th decimal (data-dependent; first hit
  at sf0.1 in label_centroids) is resolved differently by Spark's
  BigDecimal-HALF_UP and DuckDB's floating round(). Every sum-then-divide
  mean in the suite uses the integer form (centroids, lm scores, rolling
  time mean, z-score group means, avg_chars, pandas source stats).
  Residual accepted risk: ROUND of a transcendental output (ln/sqrt/pow
  chains) can still diverge if the double lands within an ulp of a
  6-decimal half — not integer-izable; measure-near-zero and unobserved
  at either verified scale.
- Oracle outputs must be explicitly cast: DuckDB widens integer SUM (plain
  AND windowed) to HUGEINT (int128), which the driver's value-hasher
  represents differently from Spark's BIGINT even when values are equal —
  wrap every integer SUM in CAST(... AS BIGINT). The full allowlist of
  driver-safe oracle output types is {BIGINT, INTEGER, DOUBLE, VARCHAR,
  BOOLEAN}, enforced by tests/test_oracle_types.py (r4 postmortem:
  chunk_dedup / dq_check / budget_sample).

The cross-engine portability pillars these rules rest on are each
sweep-tested: the md5-derived 60-bit hash (Spark conv == DuckDB CAST
hex), the sequential double fold (F.aggregate == list_dot_product,
bit-identical), ROUND(ln(int ratio), 6) (tests/test_llm_ops.py), and
whitespace tokenization via the EXPLICIT class functions/text.py:WS_SPLIT
— never ``\s``, whose Java-vs-RE2 definitions diverge on exactly U+000B
(full-codepoint sweep in tests/test_tokenization_parity.py).
"""

from __future__ import annotations

from chess_lakehouse_spark.suite import chess, core, llm, mm

_ALL_QUERIES = {**core.QUERIES, **chess.QUERIES, **mm.QUERIES, **llm.QUERIES}
_ALL_ORACLES = {**core.ORACLES, **chess.ORACLES, **mm.ORACLES, **llm.ORACLES}

QUERIES = dict(sorted(_ALL_QUERIES.items()))
ORACLES = {name: _ALL_ORACLES[name] for name in QUERIES if name in _ALL_ORACLES}
