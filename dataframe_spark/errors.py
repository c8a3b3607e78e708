"""Typed error model.

Reference: /root/reference/src/DataFrame/Errors.hs
(DataFrameException: ColumnNotFoundException, TypeMismatch...).
Spark surfaces most type errors at analysis time as
AnalysisException; we add the reference's column-not-found shape
with a did-you-mean hint for driver-side verb validation."""

from __future__ import annotations

import difflib
import warnings


class DataFrameError(Exception):
    """Base class for engine errors."""


class ColumnNotFoundError(DataFrameError, KeyError):
    def __init__(self, name: str, available: list[str]):
        self.name = name
        self.available = available
        hint = difflib.get_close_matches(name, available, n=3)
        msg = f"column not found: {name!r}"
        if hint:
            msg += f" (did you mean {', '.join(map(repr, hint))}?)"
        msg += f"; available: {sorted(available)}"
        super().__init__(msg)


class TypeMismatchError(DataFrameError, TypeError):
    pass


class MissingOrderError(DataFrameError, ValueError):
    """Raised by tail-relative verbs (take_last/drop_last) when no
    ordering is given: count+offset over an unordered distributed
    frame returns arbitrary rows that differ run to run."""


class FallbackWarning(RuntimeWarning):
    """A scale optimization (persist, plan statistics, cache barrier)
    was unavailable in this session and was skipped; results are
    unchanged, only the optimization is lost."""


_warned: set[str] = set()


def warn_fallback_once(site: str, message: str, exc: BaseException) -> None:
    """Emit one FallbackWarning per ``site`` per process."""
    if site in _warned:
        return
    _warned.add(site)
    warnings.warn(f"{site}: {message} ({exc!r})", FallbackWarning, stacklevel=3)
