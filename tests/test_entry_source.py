"""``__spark_entry__.py`` compiles with every warning an error (an
invalid escape in a string literal is a SyntaxWarning today and a
SyntaxError in a later Python), and the ``c4_rules`` oracle SQL keeps
its exact text."""

import hashlib
import os
import warnings

ENTRY = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "__spark_entry__.py")


def test_entry_compiles_with_warnings_as_errors():
    with open(ENTRY) as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(src, ENTRY, "exec")


def test_c4_rules_sql_text_unchanged():
    import __spark_entry__ as entry
    sql = entry.oracle_sql()["c4_rules"]
    assert "'[.!?\"]\\s*$'" in sql and "'\\s+'" in sql
    assert hashlib.sha256(sql.encode()).hexdigest() == (
        "e148aa2ce675908fca1a861739827867ab39810d2192861ff81bdb4033a8492f")
