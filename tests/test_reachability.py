"""Reachability guards, both stdlib ast scans matched by bare name (a
same-named orphan can stay alive, but reached code is never flagged):

1. every top-level def, class or constant in ontoemma_spark/ is
   referenced from program code, or TEST_REFERENCES names the test that
   uses it. A reference is an AST Name, Attribute or import alias
   anywhere in program code outside the definition's own statement.
2. every defaulted parameter of a package function is passed, by
   keyword or by position, by some call in program code or tests,
   unless it names a column (COLUMN_PARAMETERS). An option no call
   passes is a constant in disguise.
3. every parameter of a package function is read by its body. A
   parameter the body never loads is dead weight in every call.

Program code is the package and its entry points: scripts/, perfbench/,
bench.py, bench_extra.py and __spark_entry__.py.
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
    "sessionize_py": "tests/test_sessionization.py",
    "simhash_bits": "tests/test_multimodal_dedup.py",
    "split_sentences_spacy": "tests/test_spacy_parity.py",
}


def _files(paths):
    for path in paths:
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def _statements(paths):
    for f in _files(paths):
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


# Parameters that name a column of the caller's frame: the frame's
# schema decides them, so an unpassed one is not a constant in disguise.
COLUMN_PARAMETERS = {
    "aliases_col", "anchor_col", "bench_text_col", "definition_col", "dst",
    "dst_col", "end", "fact_ts", "host_col", "id_col", "id_out", "key_col",
    "key_cols", "label_col", "obj", "obj_col", "out_col", "pair_a", "pair_b",
    "point_ts", "pred", "pred_col", "source_col", "src", "start", "subj",
    "subj_col", "text_col", "ts_col", "url_col", "user_col", "vec_col",
}


def _calls() -> dict[str, list[ast.Call]]:
    """callee name → every call in program code and tests. cls(...)
    inside a class body counts as a call to that class."""
    calls: dict[str, list[ast.Call]] = {}
    for f in _files(PROGRAM + (ROOT / "tests",)):
        tree = ast.parse(f.read_text())
        # walk is breadth-first, so a nested class overrides its outer one
        enclosing = {
            node: cls.name
            for cls in ast.walk(tree) if isinstance(cls, ast.ClassDef)
            for node in ast.walk(cls)
        }
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            name = n.func.id if isinstance(n.func, ast.Name) else getattr(n.func, "attr", None)
            if name == "cls":
                name = enclosing.get(n)
            if name is not None:
                calls.setdefault(name, []).append(n)
    return calls


def _options():
    """(where, callee name, parameter, positional index in a call or
    None for keyword-only) for every defaulted parameter of a package
    function. A class's __init__ is called by the class name; a method
    call does not pass self or cls."""
    for f in _files([PACKAGE]):
        tree = ast.parse(f.read_text())
        owner = {
            fn: cls for cls in ast.walk(tree) if isinstance(cls, ast.ClassDef)
            for fn in cls.body
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            cls = owner.get(fn)
            static = any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)
            bound = int(cls is not None and not static)
            name = cls.name if cls is not None and fn.name == "__init__" else fn.name
            where = f"{f.relative_to(ROOT)}:{fn.lineno} {fn.name}"
            a = fn.args
            pos = a.posonlyargs + a.args
            for i in range(len(pos) - len(a.defaults), len(pos)):
                yield where, name, pos[i].arg, i - bound
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    yield where, name, p.arg, None


def _passes(call: ast.Call, param: str, index: int | None) -> bool:
    # a keyword of None is **kwargs, and a Starred argument *args: either
    # may carry the parameter
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    return index is not None and (
        len(call.args) > index or any(isinstance(a, ast.Starred) for a in call.args)
    )


def test_every_option_is_passed():
    calls = _calls()
    unset = [
        f"{where}({param})"
        for where, name, param, index in _options()
        if param not in COLUMN_PARAMETERS
        and not any(_passes(c, param, index) for c in calls.get(name, []))
    ]
    assert not unset, (
        "no call in program code or tests passes these options; make each "
        f"the constant it always is: {unset}"
    )


def _unread_parameters():
    """where(param) for every parameter of a package function whose body
    never loads it. self, cls and _-prefixed names are exempt, and so is
    the registry's uniform q_*(spark, sf_dir) signature."""
    for f in _files([PACKAGE]):
        for fn in ast.walk(ast.parse(f.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            params = [
                p.arg for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
                if p is not None
            ]
            loaded = {
                n.id for stmt in fn.body for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            registry = fn.name.startswith("q_")
            for p in params:
                if p in loaded or p in ("self", "cls") or p.startswith("_"):
                    continue
                if registry and p in ("spark", "sf_dir"):
                    continue
                yield f"{f.relative_to(ROOT)}:{fn.lineno} {fn.name}({p})"


def test_every_parameter_is_read():
    unread = list(_unread_parameters())
    assert not unread, (
        "these functions never read a parameter; drop it from the "
        f"signature and from every call: {unread}"
    )
