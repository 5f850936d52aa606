"""Every top-level name of the package is reached from a program root
(``tests/conftest.py::PROGRAM_ROOTS``) or is listed below.

The walk follows code only — a ``Name``, an ``Attribute`` on an imported
package module, or an import alias; never text in a docstring or a
comment. It starts from every statement of the program roots and from
the package's module-level statements other than defs, assignments and
imports, and it is transitive: a def that only unreached defs use is
unreached too. The package has no getattr/importlib dispatch, so a name
the walk misses is one no program runs."""

import ast

from tests.conftest import PROGRAM_ROOTS, REPO

PKG = REPO / "golden_horse_spark"

# Test-only names that stay: each is the Python reference a test checks
# live code against, or builds a test fixture for live code. What they
# use is reached through them.
REFERENCES = {
    "operators/sentence_seg.py::segment_sentences": (
        "tests/test_sentence_seg.py",
        "the Python twin segment_sentences_col is fuzz-tested against",
    ),
    "operators/normalize.py::q2b": (
        "tests/test_normalize.py",
        "the Python twin of q2b_col",
    ),
    "operators/normalize.py::char_class": (
        "tests/test_normalize.py",
        "the Python twin of char_class_col",
    ),
    "operators/ner.py::tag_sentences": (
        "tests/test_golden_parity.py",
        "per-sentence labels the golden span parity compares",
    ),
    "sources/documents.py::documents_from_sentences": (
        "tests/test_ner_stage.py",
        "builds the documents fixture of the NER stage tests",
    ),
    "model/crf.py::gold_path_score": (
        "tests/test_crf.py",
        "the gold term of the forward_backward gradient check",
    ),
    "model/joint.py::init_joint": (
        "tests/test_joint.py",
        "builds the random weights the joint scorer is tested on",
    ),
}

# Test-only code still to delete, each with the tests that go with it.
# The list only shrinks: an entry that a program root reaches, or that
# no longer exists, fails the guard. A key without "::" is a module.
PENDING = {
    "model/crf.py::decode_order_zero": "tests/test_evaluation.py",
    "model/crf.py::order_zero_nll": "tests/test_evaluation.py",
    "model/dicts.py::combine_word_dicts": "tests/test_dicts.py",
    "model/dicts.py::get_index_map": "tests/test_dicts.py",
    "model/dicts.py::convert_word_idx": "tests/test_dicts.py",
    "model/embeddings.py::context_window": "tests/test_embeddings.py",
    "model/embeddings.py::windowed_embeddings": "tests/test_embeddings.py",
    "model/evaluation.py::error_analysis": "tests/test_evaluation.py",
    "operators/corpus_filters.py::decontaminate": "tests/test_corpus_filters.py",
    "operators/corpus_filters.py::repetition_filter": "tests/test_corpus_filters.py",
    "operators/graph.py::modularity": "tests/test_graph.py",
    "operators/layout.py::layout_by_zorder": "tests/test_layout.py",
    "operators/linking.py::blocking_metrics": "tests/test_linking_cc.py",
    "operators/linking.py::fs_em_weights": "tests/test_linking_cc.py",
    "operators/multimodal.py::resize_images": "tests/test_multimodal.py",
    "operators/multimodal.py::sample_video_frames": "tests/test_multimodal.py",
    "operators/salting.py::surface_form_counts": "tests/test_linking_cc.py",
    "operators/sparql.py::sparql_union": "tests/test_sparql.py",
    "operators/sparql.py::group_concat": "tests/test_sparql.py",
    "operators/sparql.py::sample_of": "tests/test_sparql.py",
    "operators/sparql.py::resolve_same_as": "tests/test_sparql.py",
    "operators/text_analysis.py::pii_stats": "tests/test_text_ops.py",
    "operators/text_analysis.py::temperature_rates": "tests/test_text_ops.py",
    "operators/text_analysis.py::quantile_thresholds": "tests/test_text_ops.py",
    "sources/gazetteer.py::gazetteer_match_spans": "tests/test_normalize.py",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modname(path):
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


MODULES = {_modname(p): p for p in sorted(PKG.rglob("*.py"))}
TREES = {m: ast.parse(p.read_text(encoding="utf-8")) for m, p in MODULES.items()}


def _top_names(tree):
    """{name: [statements]} of a module's defs and assignments."""
    out = {}
    for st in tree.body:
        if isinstance(st, _DEFS):
            out.setdefault(st.name, []).append(st)
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        out.setdefault(n.id, []).append(st)
    return out


NAMES = {m: _top_names(t) for m, t in TREES.items()}


def _import_base(mod, node):
    """The absolute module an ``ImportFrom`` in module ``mod`` reads."""
    if not node.level or mod is None:
        return node.module or ""
    pkg = mod.split(".")
    if MODULES.get(mod, PKG).name != "__init__.py":
        pkg = pkg[:-1]
    pkg = pkg[: len(pkg) - node.level + 1]
    return ".".join(pkg + ([node.module] if node.module else []))


def _bindings(mod, tree):
    """Local name → ("mod", module) or ("def", module, name)."""
    out = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom):
            base = _import_base(mod, n)
            for a in n.names:
                if f"{base}.{a.name}" in MODULES:
                    out[a.asname or a.name] = ("mod", f"{base}.{a.name}")
                elif base in MODULES:
                    out[a.asname or a.name] = ("def", base, a.name)
        elif isinstance(n, ast.Import):
            for a in n.names:
                if a.name.split(".")[0] == PKG.name:
                    local = a.asname or a.name.split(".")[0]
                    out[local] = ("mod", a.name if a.asname else PKG.name)
    return out


def _uses(mod, nodes, binds):
    """(module, name) pairs the code in ``nodes`` uses."""
    for root in nodes:
        for n in ast.walk(root):
            if isinstance(n, ast.Name):
                if n.id in NAMES.get(mod, ()):
                    yield mod, n.id
                b = binds.get(n.id)
                if b and b[0] == "def":
                    yield b[1], b[2]
            elif isinstance(n, ast.Attribute):
                path = []
                while isinstance(n, ast.Attribute):
                    path.append(n.attr)
                    n = n.value
                b = binds.get(getattr(n, "id", None))
                if b and b[0] == "mod":
                    target, path = b[1], path[::-1]
                    while path and f"{target}.{path[0]}" in MODULES:
                        target, path = f"{target}.{path[0]}", path[1:]
                    if path:
                        yield target, path[0]
            elif isinstance(n, ast.ImportFrom):
                base = _import_base(mod, n)
                for a in n.names:
                    yield base, a.name


def _key(mod, name):
    return f"{MODULES[mod].relative_to(PKG).as_posix()}::{name}"


def _listed(keys):
    """The existing (module, name) pairs that table keys name."""
    by_path = {MODULES[m].relative_to(PKG).as_posix(): m for m in MODULES}
    out = set()
    for key in keys:
        path, _, name = key.partition("::")
        mod = by_path.get(path)
        out |= {(mod, n) for n in NAMES.get(mod, ()) if n == name or not name}
    return out


def reached(extra=()):
    """Every (module, name) the program roots reach, plus ``extra``
    and what it reaches."""
    seen, work = set(), []

    def visit(pairs):
        for m, n in pairs:
            if n in NAMES.get(m, ()) and (m, n) not in seen:
                seen.add((m, n))
                work.append((m, n))

    for path in PROGRAM_ROOTS:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        visit(_uses(None, [tree], _bindings(None, tree)))
    binds = {m: _bindings(m, t) for m, t in TREES.items()}
    for m, t in TREES.items():
        skip = _DEFS + (ast.Assign, ast.AnnAssign, ast.Import, ast.ImportFrom)
        visit(_uses(m, [st for st in t.body if not isinstance(st, skip)], binds[m]))
    visit(extra)
    while work:
        m, n = work.pop()
        visit(_uses(m, NAMES[m][n], binds[m]))
    return seen


def _lines(mod, name):
    return sum(
        st.end_lineno
        - (st.decorator_list[0] if getattr(st, "decorator_list", None) else st).lineno
        + 1
        for st in NAMES[mod][name]
    )


def test_every_package_name_is_reached_or_listed():
    listed = _listed(REFERENCES) | _listed(PENDING)
    live = reached(listed)
    unreached = sorted(
        f"{_key(m, n)} ({_lines(m, n)} lines)"
        for m in NAMES
        for n in NAMES[m]
        if (m, n) not in live
    )
    assert not unreached, "only tests reach:\n" + "\n".join(unreached)


def test_listed_names_are_test_only_and_used_by_their_test():
    live = reached()
    stale, unused = [], []
    tests = {k: test for k, (test, _) in REFERENCES.items()} | PENDING
    for key, test in tests.items():
        pairs = _listed([key])
        if not pairs or pairs & live:
            stale.append(key)
        tree = ast.parse((REPO / test).read_text(encoding="utf-8"))
        words = {
            getattr(n, "id", None) or getattr(n, "attr", None) or n.name
            for n in ast.walk(tree)
            if isinstance(n, (ast.Name, ast.Attribute, ast.alias))
        }
        if not {n for _, n in pairs} & words:
            unused.append(f"{key} in {test}")
    assert not stale, f"listed but reached from a program root, or gone: {stale}"
    assert not unused, f"listed test does not use the name: {unused}"
