"""The block format has one reader. Only ``synspark/codec.py`` decodes
block streams (everything else goes through ``codec.decode_selected``),
and the docstats pseudo rows are built by one function. Spark-free: it
parses the package sources with ``ast``."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "synspark"
DECODERS = {"varint_decode", "decode_positions", "decode_plens",
            "decode_impacts", "decode_block"}


def _uses(path: Path):
    """(enclosing function, name) for every call, attribute or import
    of a name in the module ("<module>" outside any function)."""
    out = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Name):
            out.append((fn, node.id))
        elif isinstance(node, ast.Attribute):
            out.append((fn, node.attr))
        elif isinstance(node, ast.ImportFrom):
            out.extend((fn, a.name) for a in node.names)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text(encoding="utf-8")), "<module>")
    return out


def _modules():
    return sorted(p for p in PKG.rglob("*.py") if p.name != "codec.py")


def test_only_codec_decodes_block_streams():
    offenders = sorted(
        (str(p.relative_to(PKG)), fn, name)
        for p in _modules() for fn, name in _uses(p)
        if name in DECODERS)
    assert offenders == []


def test_docstats_rows_built_in_one_function():
    # the pseudo-row block width and the varint encoder (outside the
    # codec) appear in exactly one function: the row builder
    builders = {
        (str(p.relative_to(PKG)), fn)
        for p in _modules() for fn, name in _uses(p)
        if name in ("_DOCSTATS_BLOCK", "varint_encode")
        and fn != "<module>"}
    assert builders == {("indexer.py", "docstats_rows")}
