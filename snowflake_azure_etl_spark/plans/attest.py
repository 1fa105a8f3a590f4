"""Broadcast attestation — the ONLY sanctioned way to hint a broadcast.

The r11 verdict found one corpus-sized ``F.broadcast`` hint that every
audit had missed (q50's per-document lang map): at sf0.1 it is
invisible, at 100 TB it is a driver OOM. The structural fix (VERDICT
r11 #2) is to make the defect class impossible to write silently:

- **No raw ``F.broadcast`` anywhere in the package.** Every broadcast
  hint routes through :func:`bounded_broadcast`, which demands an
  attestation: either a measured row count (``n_rows`` — footer
  stats or an already-paid count) or a declared construction bound
  (``bound`` + ``max_rows`` — "one-row stats", "codebook ≤4096",
  "dim table"). ``tests/test_plan_hygiene.py`` greps the package and
  is red on any ``F.broadcast(`` outside this module.
- **Declared bounds are verified, not trusted.** Under
  :func:`verify_mode` (enabled by the plan-hygiene sweep while it
  builds all catalog queries) every construction-bound claim is
  checked with an eager ``limit(max_rows+1).count()`` — a claim of
  "one-row stats" on a corpus-sized relation fails the test run
  before it can ship.
- **The cap is global.** ``max_rows`` may never exceed
  :data:`BROADCAST_MAX_ROWS`; a laundered "bounded" claim with a
  10^12 cap is a ``ValueError`` at import/plan time.

``n_rows``-attested sites keep the :func:`maybe_broadcast` semantics
the dedup/ANN stack has always had: broadcast when the measured count
fits the cap, otherwise return the side unhinted and let AQE pick the
shuffle strategy.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: One shared cap for every broadcast hint in the package (the value
#: `operators.dedup` has attested against since r3). A build side a
#: pipeline cannot prove under this bound is not broadcast, period.
BROADCAST_MAX_ROWS = 1_000_000

#: Absolute ceiling for the one sanctioned exception: narrow KEY-ONLY
#: projections (the semi-join prefilter's distinct dim keys — a few
#: ints per row, ~40 MB at this count). Wider relations keep the 1M
#: cap; nothing in the package may declare past this, ever.
KEY_ONLY_MAX_ROWS = 5_000_000

_verify = False


@contextmanager
def verify_mode():
    """While active, every construction-bound claim passed to
    :func:`bounded_broadcast` is verified with an eager
    ``limit(max_rows+1).count()`` on the claimed side. Test-only:
    the count is a real job, so production plan building stays lazy."""
    global _verify
    _verify = True
    try:
        yield
    finally:
        _verify = False


#: Field types a KEY_ONLY relation may carry: fixed-width scalars and
#: strings — the shapes a join key / surrogate-key map is made of.
#: Arrays, maps, structs, and binary are payload, not keys: a "key
#: only" claim over them would launder arbitrarily wide rows through
#: the 5M cap (VERDICT r12 #6).
#: NOTE: Spark typeName()s, not simpleStrings — IntegerType prints
#: "integer" here ("int" is only its simpleString; r13 review: the
#: wrong spelling made every int32 key column falsely rejected).
_KEY_ONLY_TYPES = ("byte", "short", "integer", "long", "float",
                   "double", "string", "date", "timestamp",
                   "timestamp_ntz", "boolean")

#: Maximum column count for the KEY_ONLY exception: a business-key
#: projection plus its surrogate key — every sanctioned site uses
#: 1-3 columns (layout.semi_prefilter, star_build's key maps,
#: incremental's business keys).
_KEY_ONLY_MAX_COLS = 3


def _assert_key_only_shape(side: DataFrame) -> None:
    """The WIDTH half of the key_only attestation (the row count half
    is the cap + verify_mode). Schema-only — no job — so it runs on
    every call, not just under verify_mode: a wide relation cannot
    claim the bigger cap even in production plan building."""
    fields = side.schema.fields
    if len(fields) > _KEY_ONLY_MAX_COLS:
        raise ValueError(
            f"key_only broadcast claims a narrow key projection but "
            f"has {len(fields)} columns ({[f.name for f in fields]}) — "
            f"the KEY_ONLY cap admits <= {_KEY_ONLY_MAX_COLS}")
    for f in fields:
        t = f.dataType.typeName()
        if t.startswith("decimal"):
            continue
        if t not in _KEY_ONLY_TYPES:
            raise ValueError(
                f"key_only broadcast column {f.name!r} has non-key "
                f"type {f.dataType.simpleString()} — arrays/maps/"
                f"structs/binary are payload; use the standard "
                f"BROADCAST_MAX_ROWS attestation instead")


def bounded_broadcast(side: DataFrame, *, bound: str | None = None,
                      n_rows: int | None = None,
                      max_rows: int = BROADCAST_MAX_ROWS,
                      key_only: bool = False) -> DataFrame:
    """Broadcast ``side`` iff its size is attested under ``max_rows``.

    Exactly one attestation form is required:

    - ``n_rows=<measured count>`` — footer row count or an
      already-paid ``count()``. Broadcasts when it fits, otherwise
      returns ``side`` unhinted (shuffle join / AQE decides).
    - ``bound="<reason>"`` — a construction bound ("one-row stats
      crossJoin", "codebook ≤ k·m rows", "TPC-H dim"), checked for
      real under :func:`verify_mode`.

    ``max_rows`` above :data:`BROADCAST_MAX_ROWS` is rejected — the
    cap is the attestation's teeth.
    """
    cap = KEY_ONLY_MAX_ROWS if key_only else BROADCAST_MAX_ROWS
    if key_only:
        _assert_key_only_shape(side)
    if n_rows is None and bound is None:
        raise ValueError(
            "unattested broadcast: pass a measured n_rows or a declared "
            "construction bound")
    if n_rows is not None and bound is not None:
        raise ValueError(
            "ambiguous attestation: pass EITHER a measured n_rows OR a "
            "declared construction bound — a bound that rides beside a "
            "measured count is never verified (review finding r12)")
    if n_rows is not None:
        # measured form: the effective threshold is the caller's cap
        # clamped to the global one — an oversized caller cap degrades
        # to the global cap (the side still broadcasts iff it is small
        # in fact) instead of failing a measured-and-tiny side
        return F.broadcast(side) if n_rows <= min(max_rows, cap) else side
    if max_rows > cap:
        raise ValueError(
            f"max_rows={max_rows} exceeds the attestation cap "
            f"({'KEY_ONLY_' if key_only else 'BROADCAST_'}MAX_ROWS): a "
            "declared bound that needs a bigger cap is not a broadcast")
    if _verify:
        got = side.limit(max_rows + 1).count()
        if got > max_rows:
            raise AssertionError(
                f"broadcast attestation '{bound}' is FALSE: side has "
                f"> {max_rows} rows ({got} observed)")
    return F.broadcast(side)


def maybe_broadcast(side: DataFrame, n_rows: int | None) -> DataFrame:
    """Size-conditional broadcast hint for corpus-proportional sides.

    Per-doc tables (band keys, bucket widths, token sets) grow linearly
    with the corpus, so an unconditional ``F.broadcast`` that is a win
    at test scale is an OOM at 100 TB. Hint only when the caller
    attests the side is small (``n_rows`` is known and under
    :data:`BROADCAST_MAX_ROWS` — the package's one broadcast cap, never
    a per-call knob); otherwise return the side un-hinted so the join
    shuffles on its equi key — AQE may still convert to a broadcast at
    runtime if the materialized side proves tiny, but the *plan* never
    commits to holding a corpus-sized table in memory.
    """
    if n_rows is None:
        return side
    return bounded_broadcast(side, n_rows=n_rows)
