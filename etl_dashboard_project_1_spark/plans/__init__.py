"""Registry queries, one module per domain; each module pairs every PySpark
query with its DuckDB oracle SQL.

House rules, shared by every query and oracle pair (the oracle harness
hashes values, so both engines must produce the same bits):

- outputs are scalar columns only, never array, map or struct; counts
  are cast to long;
- ratios and real-valued statistics are floor-form integer scalings
  (``floor(x * 10^k + 0.5)``, never ``round``: the engines disagree on
  half boundaries); a statistic that stays real-valued is emitted as a
  fixed-shape ``floor(1e6 * expr)`` double, with per-bin terms floored
  before summation so accumulation order cannot diverge;
- integer division only on non-negative operands (Spark ``div`` and
  DuckDB ``//`` both truncate toward zero); where a difference can be
  negative, split the sign with a mirrored CASE;
- integer products that can leave int64 ride decimal(38,0) / HUGEINT;
- no runtime transcendentals (``ln`` differs between libms): thresholds
  and weights are exact Python rationals or integers; ``sqrt`` of an
  exact integer-derived double is allowed (correctly rounded IEEE);
- randomness comes from the md5 wheel, never an engine RNG;
- every constant is interpolated into both engines from one Python value;
- NULL inputs are excluded by mirrored filters, and degenerate cells emit
  NULL through a mirrored CASE;
- every ranking and every running/lead/lag window over ``ts`` is totally
  ordered, with a deterministic tiebreak (``event_id``, ``user_id``) in
  both engines.
"""
