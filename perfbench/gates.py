"""Correctness gates. Each takes plain Python/pandas results and returns a
list of problems (empty = pass), so tests can feed them corrupted results.
None of them runs inside a timed region."""

from __future__ import annotations

import math

import pandas as pd


def _state(status, error_code, error_message, num_errors) -> tuple:
    def null(v):
        return v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA
    return (None if null(status) else int(status),
            None if null(error_code) else str(error_code),
            None if null(error_message) else str(error_message),
            0 if null(num_errors) else int(num_errors))


def crawl_gate(frontier: pd.DataFrame, initial_urls: set,
               links_new_sum: int, oracle_seen: set,
               oracle_states: dict[str, tuple], popped: list[int],
               budget: int) -> list[str]:
    """After resuming from ``initial_urls`` and running some cycles, each
    of which popped ``popped[i]`` URLs, every cycle must have popped the
    full ``budget``, and the engine's final frontier must

    - hold every URL once;
    - have initial rows + the cycles' summed ``links_new`` rows, and that
      sum must equal the oracle's new URLs (its seen set minus the initial
      URLs);
    - hold the oracle's seen set, with the oracle's (status_code,
      error_code, error_message, num_errors) for every URL."""
    problems = []
    short = [n for n in popped if n != budget]
    if short:
        problems.append(f"cycles popped {short}, not the budget {budget}")
    urls = frontier["url"]
    if urls.duplicated().any():
        problems.append(f"{int(urls.duplicated().sum())} duplicate frontier urls")
    if len(frontier) != len(initial_urls) + links_new_sum:
        problems.append(f"rows {len(frontier)} != initial {len(initial_urls)}"
                        f" + links_new {links_new_sum}")
    expected_new = len(oracle_seen - initial_urls)
    if links_new_sum != expected_new:
        problems.append(f"links_new {links_new_sum} != oracle's new urls "
                        f"{expected_new}")
    seen = set(urls)
    if seen != oracle_seen:
        problems.append(f"seen set: {len(seen - oracle_seen)} extra, "
                        f"{len(oracle_seen - seen)} missing")
    bad = []
    for u, s, ec, em, ne in zip(urls, frontier["status_code"],
                                frontier["error_code"],
                                frontier["error_message"],
                                frontier["num_errors"]):
        want = oracle_states.get(u)
        if want is not None and _state(s, ec, em, ne) != _state(*want):
            bad.append(u)
    if bad:
        problems.append(f"{len(bad)} urls differ in final state, e.g. {bad[:2]}")
    return problems


def query_gate(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame | None,
               compare) -> list[str]:
    """A query with a DuckDB twin must match it (``compare`` is
    scripts/check_correctness.compare); a rows-only query must return
    rows."""
    if oracle_pdf is None:
        return [] if len(spark_pdf) > 0 else ["rows-only query returned no rows"]
    return compare(spark_pdf, oracle_pdf)
