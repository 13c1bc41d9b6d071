"""Portable scalar/array function helpers.

Every helper here has two renderings that must stay in lockstep: a PySpark
Column expression and a DuckDB SQL snippet (used by the oracle harness).
Keeping both in one module, generated from shared constants, is what makes
the oracle-differential tests byte-exact.

``zipimport_cache`` is the one exception: not an expression, but a fix
that the package's Python UDFs carry to the workers that run them.
"""
