"""Validator expression builders.

``sql_builders``: pure Column/Catalyst expressions (JVM whole-stage
codegen, zero Python) — exact for ip and phone, the fast path for email
and url. ``udf_tier``: Arrow-vectorized pandas UDFs for the checks SQL
cannot express exactly (WHATWG url parse, IDN email fallback) — applied
only to rows the fast path cannot decide (SURVEY.md §4.2 "two-tier
checks") — plus the Python oracles the SQL forms are tested against.
"""
