"""Typed validation errors mirroring the reference's ``LagError`` enum.

Reference: ``enum LagError`` at /root/reference/src/lib.rs:758-773 with
``Display`` impls at src/lib.rs:777-804. One Python exception per variant,
all subclasses of :class:`LagError` (itself a ``ValueError``) so callers can
catch broadly or precisely.

Semantics differences from the reference (deliberate, documented in
SURVEY.md §2.1):

* Quirk Q1 fix — the reference only validates the *count* of lags against
  the series length (src/lib.rs:504-507) and then panics via usize
  underflow when an individual lag exceeds the length (src/lib.rs:520).
  We validate ``max(lags) >= series_length`` wherever the length is known
  (local interop path) and raise :class:`LagExceedsValueCountError` — the
  error the enum name clearly intended.  In the distributed path a lag
  larger than a series simply yields an all-fill column (well-defined,
  no panic possible).
* Quirk Q2 fix — stride/padding is an export-only concept; the default is
  "no padding" in both layouts.
"""

from __future__ import annotations


class LagError(ValueError):
    """Base class for all lag-matrix validation errors."""


class InvalidLagsError(LagError):
    """Empty lag set, or a lag that is not a non-negative integer.

    Reference: ``LagError::InvalidLags`` raised at src/lib.rs:496-498.
    """


class EmptyDataError(LagError):
    """The input series / DataFrame has no rows.

    Reference: ``LagError::EmptyData`` raised at src/lib.rs:500-502.
    """


class LagExceedsValueCountError(LagError):
    """A lag magnitude meets or exceeds the series length (Q1 fixed).

    Reference: ``LagError::LagExceedsValueCount`` raised at
    src/lib.rs:504-507 (which only compared the *count* of lags).
    """


class InvalidStrideError(LagError):
    """Requested export stride is smaller than the logical row length.

    Reference: ``LagError::InvalidStride`` raised at src/lib.rs:513-515.
    """


class InvalidLengthError(LagError):
    """2-D input length is not an exact multiple of the series length.

    Reference: ``LagError::InvalidLength`` raised at src/lib.rs:670-696.
    """


class ColumnNotFoundError(LagError):
    """A named column is absent from the input DataFrame.

    No reference counterpart (the reference takes raw slices, not named
    columns); ours because schema-ful inputs need it.
    """


def require_columns(df, cols) -> None:
    """Raise :class:`ColumnNotFoundError` for the first of ``cols`` not in ``df``."""
    for c in cols:
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")


class InvalidMemoryLayoutError(LagError):
    """Local array input is not contiguous / cannot be interpreted.

    Reference: ``LagError::InvalidMemoryLayout`` raised at
    src/ndarray_support.rs:94-96 and :134-136.
    """


def validate_lags(lags) -> list[int]:
    """Materialize and validate a lag set, preserving order and duplicates.

    The reference materializes via ``Vec::from_iter`` (src/lib.rs:493) and
    accepts arbitrary order / duplicates / lag 0 (src/lib.rs:846-865).
    """
    try:
        out = [int(k) for k in lags]
    except TypeError as exc:  # not iterable / not int-like
        raise InvalidLagsError(f"lag set must be an iterable of ints, got {lags!r}") from exc
    if not out:
        raise InvalidLagsError("lag set must not be empty")
    for k in out:
        if k < 0:
            raise InvalidLagsError(f"lags must be non-negative, got {k} (use lead_features for negative shifts)")
    return out
