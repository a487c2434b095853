"""The at-rest layout of a file-sink table must live in one module.

``klepto_spark/sinks/tablefs.py`` owns the table's sidecar and log names,
the JSON sidecar read and write, and the bin-pack settle. A module that
reads a sidecar with its own ``IOUtils`` call, spells a log or journal
name itself, or reaches into another sink module's private helpers starts
a copy that can drift from the others (as the bin-pack settle did, which
only three of eight mutations ran). This reads the sources without
importing them.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "klepto_spark"
TABLEFS = PACKAGE / "sinks" / "tablefs.py"
LAYOUT_NAMES = {"_dvlog", "_pdvlog", "_binpack.json", "_bpstage"}


def _sources():
    return sorted(p for p in PACKAGE.rglob("*.py") if p != TABLEFS)


def _module(path: Path) -> str:
    return ".".join(path.relative_to(REPO).with_suffix("").parts)


def test_only_tablefs_reads_sidecars_with_ioutils():
    offenders = [str(p.relative_to(REPO)) for p in _sources()
                 if "IOUtils" in p.read_text()]
    assert offenders == []


def test_only_tablefs_spells_the_log_and_journal_names():
    offenders = {}
    for p in _sources():
        spelled = {n.value for n in ast.walk(ast.parse(p.read_text()))
                   if isinstance(n, ast.Constant) and n.value in LAYOUT_NAMES}
        if spelled:
            offenders[str(p.relative_to(REPO))] = sorted(spelled)
    assert offenders == {}


def test_no_module_imports_another_sink_modules_private_names():
    offenders = {}
    for p in _sources():
        own = _module(p)
        for node in ast.walk(ast.parse(p.read_text())):
            if (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.startswith("klepto_spark.sinks")
                    and node.module != own):
                private = [a.name for a in node.names
                           if a.name.startswith("_")]
                if private:
                    offenders.setdefault(str(p.relative_to(REPO)),
                                         []).extend(private)
    assert offenders == {}


def test_the_boundary_checks_see_the_package():
    # a wrong root would make every check above pass vacuously
    names = {p.name for p in _sources()}
    assert {"writers.py", "deletion_vectors.py", "catalog.py"} <= names
    assert TABLEFS.is_file()
