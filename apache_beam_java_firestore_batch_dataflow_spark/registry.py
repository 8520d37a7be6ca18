"""Shared registration guard for the per-module query registries.

Every operator module keeps its own ``QUERIES``/``ORACLES`` dicts and a
``register = registrar(QUERIES, ORACLES)`` decorator; all of them
delegate here so that a duplicate name — within a module or (via the
merged-size assertion in ``__spark_entry__.queries()``) across modules —
fails loudly at import time instead of silently shadowing an
already-proven implementation (the round-9 ``q_format_schema_evolution``
hazard).
"""

from __future__ import annotations


def add(queries: dict, oracles: dict, name: str, fn, oracle: str | None = None):
    """Insert ``fn`` (and optionally its oracle SQL) under ``name``.

    Raises ``ValueError`` if ``name`` is already registered in this
    module's registry — re-registration is always a bug: either dead
    code (the old def never runs) or an unproven replacement of a
    proven query.
    """
    if name in queries:
        raise ValueError(
            f"duplicate query registration: {name!r} is already registered; "
            "rename the new query or delete the old definition"
        )
    queries[name] = fn
    if oracle is not None:
        oracles[name] = oracle
    return fn


def registrar(queries: dict, oracles: dict):
    """The module's ``register(name, oracle=None)`` decorator: adds the
    decorated query function (and its oracle SQL) to ``queries`` /
    ``oracles`` through ``add`` and returns the function unchanged."""

    def register(name: str, oracle: str | None = None):
        def deco(fn):
            return add(queries, oracles, name, fn, oracle)

        return deco

    return register
