"""Reachability guard: every top-level def, class or constant in
ontoemma_spark/ is referenced from program code, or TEST_REFERENCES
names the test that uses it.

Program code is the package and its entry points: scripts/, perfbench/,
bench.py, bench_extra.py and __spark_entry__.py. A reference is an AST
Name, Attribute or import alias anywhere in program code outside the
definition's own statement. Matching is by bare name, so the scan can
keep a same-named orphan alive but never flags reached code.
"""

import ast
from collections import Counter
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ontoemma_spark"
PROGRAM = (
    PACKAGE,
    ROOT / "scripts",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "__spark_entry__.py",
)

TEST_REFERENCES = {
    # Reference twins: a test compares a reached path against them.
    "brute_force_topk": "tests/test_multimodal_dedup.py",
    "expected_triples": "tests/test_extract.py",
    "extract_text_py": "tests/test_extract.py",
    "extract_triples_py": "tests/test_extract.py",
    "ENC_DIM": "tests/test_siamese.py",
    "gold_alignment": "tests/test_align_pipeline.py",
    "pack_sequences_py": "tests/test_curation.py",
    "parse_warc_bytes": "tests/test_warc.py",
    "porter_stem": "tests/test_snowball.py",
    "sessionize_py": "tests/test_sessionization.py",
    "simhash_bits": "tests/test_multimodal_dedup.py",
    "split_sentences_spacy": "tests/test_spacy_parity.py",
}


def _statements(paths):
    for path in paths:
        for f in sorted(path.rglob("*.py")) if path.is_dir() else [path]:
            for stmt in ast.parse(f.read_text(), filename=str(f)).body:
                yield f, stmt


def _defined(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    # dunders (__version__, __all__) are module protocol, not API
    return [
        t.id for t in targets
        if isinstance(t, ast.Name)
        and not (t.id.startswith("__") and t.id.endswith("__"))
    ]


def _referenced(node) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            names.add(n.id)
        elif isinstance(n, ast.Attribute) and not isinstance(n.ctx, ast.Store):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


@cache
def _unreached() -> dict[str, str]:
    """name → "path:line" of each package definition that no other
    program statement references."""
    stmts = [(f, s, _referenced(s)) for f, s in _statements(PROGRAM)]
    n_referencing = Counter(name for _, _, refs in stmts for name in refs)
    return {
        name: f"{f.relative_to(ROOT)}:{s.lineno}"
        for f, s, refs in stmts
        if f.is_relative_to(PACKAGE)
        for name in _defined(s)
        if n_referencing[name] - (name in refs) == 0
    }


def test_every_package_definition_is_reached():
    orphans = {
        name: where for name, where in _unreached().items()
        if name not in TEST_REFERENCES
    }
    assert not orphans, (
        "no program code references these; delete them or, if a test "
        f"uses one as its reference, add it to TEST_REFERENCES: {orphans}"
    )


def test_test_references_are_used_and_still_unreached():
    unreached = _unreached()
    used = {
        f: _referenced(ast.parse((ROOT / f).read_text()))
        for f in set(TEST_REFERENCES.values())
    }
    for name, test_file in TEST_REFERENCES.items():
        assert name in unreached, (
            f"{name} is reached from program code (or gone); "
            "drop it from TEST_REFERENCES"
        )
        assert name in used[test_file], f"{test_file} no longer uses {name}"
