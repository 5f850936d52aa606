"""Every Python source of the project compiles without a SyntaxWarning
or DeprecationWarning — an invalid escape such as ``'\\s'`` in a
non-raw string warns today and is a syntax error in a later Python."""

import warnings

from tests.conftest import PROGRAM_ROOTS, REPO


def _sources():
    files = sorted((REPO / "golden_horse_spark").rglob("*.py"))
    files += PROGRAM_ROOTS
    files += sorted((REPO / "tests").rglob("*.py"))
    return files


def test_sources_compile_without_warnings():
    bad = []
    for path in _sources():
        with warnings.catch_warnings(record=True) as seen:
            warnings.simplefilter("always")
            compile(path.read_text(encoding="utf-8"), str(path), "exec")
        bad += [
            f"{path.relative_to(REPO)}:{w.lineno}: "
            f"{w.category.__name__}: {w.message}"
            for w in seen
            if issubclass(w.category, (SyntaxWarning, DeprecationWarning))
        ]
    assert not bad, bad


def test_salted_counts_oracle_keeps_single_backslash_regexes():
    """The oracle is a raw string: its DuckDB regexes read ``\\s+``
    with one backslash each, as before it became raw."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["q_salted_counts"]
    assert sql.count("'\\s+'") == 4
    assert "\\\\" not in sql
