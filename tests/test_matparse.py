"""Golden tests for the MATLAB extraction payload.

Expectations ported from the reference's own test suite
(/root/reference/tests/test_treesitter.py, test_docstring.py,
test_docstring_before.py, test_livescripts.py) and run against the
reference's fixture corpus read at test time — this is the
byte-identical-extraction gate of BASELINE.md.
"""

from pathlib import Path

import pytest

from maxx_spark.matparse import parse_mfile, parse_plaintext_livescript, parse_mlx_bytes
from maxx_spark.matparse.mparser import ExtractConfig, source_slice


def _parse(ref_files, name, cfg=None):
    p = ref_files / name
    return parse_mfile(p.read_text(), Path(name).stem, cfg)


# -- functions (test_treesitter.py:258-315) ---------------------------------


def test_parse_function(ref_files):
    m = _parse(ref_files, "test_function.m")
    assert m.kind == "function"
    assert m.name == "test_function"
    args = {a.name: a for a in m.arguments}
    assert set(args) == {"input1", "input2", "text"}
    assert args["input1"].type == "double"
    assert "1" in args["input1"].dimensions and ":" in args["input1"].dimensions
    assert args["input2"].type == "double"
    assert "mustBePositive" in args["input2"].validators
    assert args["input2"].default == "1"
    assert args["input2"].kind == "optional"
    assert args["text"].type == "string"
    assert args["text"].default == '"Test"'
    assert args["text"].kind == "keyword_only"
    assert "The first input parameter" in args["input1"].docstring.value
    assert "The second input parameter" in args["input2"].docstring.value
    assert "Optional text parameter" in args["text"].docstring.value
    assert [r.name for r in m.returns] == ["result"]
    assert "Test function for MATLAB parser" in m.docstring.value
    assert "This function is used to test" in m.docstring.value


def test_parse_script(ref_files):
    m = _parse(ref_files, "my_script.m")
    assert m.kind == "script"
    assert m.name == "my_script"
    assert "Test script for MATLAB parser" in m.docstring.value
    # gap rule: the second comment block (after the blank line) is cut
    assert "Define some variables" not in m.docstring.value


# -- classes (test_treesitter.py:21-255) -------------------------------------


def test_myclass(ref_files):
    c = _parse(ref_files, "MyClass.m")
    assert c.kind == "class"
    assert c.name == "MyClass"
    assert c.bases == ["handle"]
    assert "Test class for MATLAB parser" in c.docstring.value
    assert "Properties:" in c.docstring.value and "Methods:" in c.docstring.value

    p1, p2 = c.members["Property1"], c.members["Property2"]
    assert p1.attributes["type"] == "double" and p1.attributes["default"] == "0"
    assert p2.attributes["type"] == "string" and p2.attributes["default"] == '""'

    ctor = c.members["MyClass"]
    assert len(ctor.arguments) == 1  # constructor keeps its args (no obj-drop)
    iv = ctor.arguments[0]
    assert (iv.name, iv.type, iv.default) == ("init_val", "double", "0")
    assert "mustBeNumeric" in iv.validators
    assert "Initial value for Property1" in iv.docstring.value
    assert "MyClass constructor" in ctor.docstring.value

    m1 = c.members["method1"]
    assert m1.attributes.get("Access") is None  # default public
    assert len(m1.arguments) == 1  # obj removed
    a = m1.arguments[0]
    assert a.name == "input1" and a.type == "double"
    assert "mustBeNumeric" in a.validators
    assert "1" in a.dimensions and ":" in a.dimensions
    assert "The input parameter for method1" in a.docstring.value
    assert [r.name for r in m1.returns] == ["result"]

    m2 = c.members["method2"]
    assert m2.attributes["Access"] == "private"
    byname = {a.name: a for a in m2.arguments}
    assert byname["text"].type == "string" and byname["text"].default == '"Modified"'
    assert byname["text"].kind == "keyword_only"
    assert byname["flag"].type == "logical" and byname["flag"].default == "false"
    assert byname["flag"].kind == "keyword_only"
    assert byname["flag"].dimensions == ["1", "1"]
    assert "Text to set for Property2" in byname["text"].docstring.value
    assert "Optional flag parameter" in byname["flag"].docstring.value

    m3 = c.members["method3"]
    assert m3.attributes["Access"] == "public"
    assert len(m3.arguments) == 2
    f = m3.arguments[0]
    assert f.name == "factor" and f.default == "1" and f.kind == "optional"
    assert "mustBePositive" in f.validators and f.dimensions == ["1", "1"]
    prec = {a.name: a for a in m3.arguments}["precision"]
    assert prec.default == "2" and prec.kind == "keyword_only"
    assert "mustBeInRange" in prec.validators


def test_myenum(ref_files):
    e = _parse(ref_files, "MyEnum.m")
    assert e.bases == ["int16"]
    assert set(e.members) == {"foo", "bar", "baz"}
    assert e.members["foo"].value == "0"
    assert e.members["bar"].value == "42"
    assert e.members["baz"].value == "69"
    assert e.members["foo"].docstring.value == "foo"
    assert e.members["bar"].docstring.value == "bar"
    assert e.members["baz"].docstring is None


def test_abstract_sealed_class(ref_files):
    c = _parse(ref_files, "AbstractClass.m")
    assert c.attributes["Abstract"] is True and c.attributes["Sealed"] is True
    assert c.members["AbstractProp"].attributes["Abstract"] is True
    assert c.members["HiddenProp"].attributes["Hidden"] is True
    assert c.members["ConstantProp"].attributes["Constant"] is True
    assert c.members["ProtectedProp"].attributes["Access"] == "protected"
    assert c.members["PrivateSetProp"].attributes["SetAccess"] == "private"
    assert c.members["staticMethod"].attributes["Static"] is True
    assert c.members["privateMethod"].attributes["Access"] == "private"
    assert c.members["hiddenMethod"].attributes["Hidden"] is True


def test_getter_setter_class(ref_files):
    c = _parse(ref_files, "GetterSetterClass.m")
    assert "ComputedValue" in c.members
    cv = c.members["ComputedValue"]
    assert cv.attributes.get("getter") == "get.ComputedValue"
    assert cv.attributes.get("setter") == "set.ComputedValue"
    assert c.members["InternalValue"].attributes["Access"] == "private"
    g = c.members["get.ComputedValue"]
    assert g.is_getter and "Getter for ComputedValue" in g.docstring.value


# -- docstrings (test_treesitter.py:448-537, test_docstring.py) --------------


def test_block_comment_docstring(ref_files):
    m = _parse(ref_files, "block_comment_function.m")
    assert "block comment" in m.docstring.value.lower()
    assert "multiple lines" in m.docstring.value.lower()
    assert len(m.arguments) == 2


def test_complex_block_comment(ref_files):
    m = _parse(ref_files, "complex_block_comment.m")
    assert "complex block comment" in m.docstring.value.lower()
    assert "multiple paragraphs" in m.docstring.value.lower()
    assert len(m.arguments) == 3 and len(m.returns) == 1


def test_pragma_filtering(ref_files):
    m = _parse(ref_files, "pragma_function.m")
    assert "codegen" not in m.docstring.value
    assert "--8<--" not in m.docstring.value
    assert "Arguments:" in m.docstring.value


def test_multiline_docstring(ref_files):
    m = _parse(ref_files, "multiline_docstring.m")
    for frag in ("First line", "Second line", "Third line"):
        assert frag in m.docstring.value


def test_docstring_linenos(ref_files):
    c = _parse(ref_files, "MyClass.m")
    assert c.docstring.lineno == 2 and c.docstring.endlineno == 12
    f = _parse(ref_files, "test_function.m")
    assert f.docstring.lineno == 2 and f.docstring.endlineno == 3


def test_malformed_tolerated(ref_files):
    # must not raise unrecoverably; any structured result or exception is ok
    try:
        m = _parse(ref_files, "malformed.m")
        assert m is not None
    except Exception:
        pass


def test_plot_axes_argument(ref_files):
    m = _parse(ref_files, "plot_axes.m")
    a = m.arguments[0]
    assert a.name == "ax"
    assert a.type == "matlab.graphics.axis.Axes"
    assert a.default == "gca"
    assert a.kind == "optional"
    assert "adds the gradient" in a.docstring.value


# -- docstring-before config matrix (test_docstring_before.py) ---------------


def test_docstring_before(ref_files):
    cfg = ExtractConfig(
        docstring_before_properties=True,
        docstring_before_arguments=True,
        docstring_before_enumerations=True,
    )
    c = _parse(ref_files, "TestDocstringBefore.m", cfg)
    assert c.members["Prop1"].docstring.value == "Property with docstring before"
    assert c.members["Prop2"].docstring.value == "Another property with docstring before"
    assert c.members["EnumMember1"].docstring.value == "First enumeration member docstring"
    assert c.members["EnumMember2"].docstring.value == "Second enumeration member docstring"
    ctor = c.members["TestDocstringBefore"]
    docs = [a.docstring.value for a in ctor.arguments]
    assert docs == ["First argument docstring", "Second argument docstring"]


def test_docstring_after_default(ref_files):
    c = _parse(ref_files, "TestDocstringBefore.m")  # default: after
    # after-mode attaches a following comment to the PREVIOUS property
    # (reference treesitter.py:522-524): Prop1 receives the comment that
    # precedes Prop2; the comment before Prop1 has no previous item → dropped
    assert c.members["Prop1"].docstring.value == "Another property with docstring before"
    assert c.members["Prop2"].docstring is None


# -- class folders / namespaces ----------------------------------------------


def test_classfolder_method_files(ref_files):
    an = parse_mfile((ref_files / "@ClassFolder" / "analyze.m").read_text(), "analyze")
    assert an.kind == "function"
    assert "Analyze the data in the ClassFolder object" in an.docstring.value
    assert "Example:" in an.docstring.value
    args = {a.name: a for a in an.arguments}
    assert "mustBeMember" in args["method"].validators


def test_namespace_function(ref_files):
    f = parse_mfile(
        (ref_files / "+namespace" / "test_namespace_function.m").read_text(),
        "test_namespace_function",
    )
    assert "Test namespace function for MATLAB parser" in f.docstring.value
    assert "namespace.test_namespace_function(5)" in f.docstring.value
    byname = {a.name: a for a in f.arguments}
    assert byname["precision"].kind == "keyword_only"
    assert byname["multiplier"].default == "2"


# -- live scripts (test_livescripts.py shapes, engine-owned inputs) -----------


_LIVE_SCRIPT = """\
%% Introduction
% This live script squares a vector.
% It has two text sections.

%% Compute
x = 1:3;
y = x.^2;
%% Empty

%% Notes
% The result is [1 4 9].
%% Display
disp(y)
"""


def test_plaintext_livescript():
    sections = parse_plaintext_livescript(_LIVE_SCRIPT)
    kinds = [k for k, _ in sections]
    assert kinds[0] == "text"
    assert "code" in kinds
    assert all(c.strip() for _, c in sections)
    # headers stripped, all-comment bodies are text, the empty section drops
    assert sections == [
        ("text", "% This live script squares a vector.\n% It has two text sections."),
        ("code", "x = 1:3;\ny = x.^2;"),
        ("text", "% The result is [1 4 9]."),
        ("code", "disp(y)"),
    ]


def _mlx_bytes(paragraphs):
    """A minimal .mlx archive: matlab/document.xml holding one w:p per
    (style, [runs]) entry; style None leaves the paragraph unstyled."""
    import io
    import zipfile

    ps = []
    for style, runs in paragraphs:
        ppr = f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>' if style else ""
        rs = "".join(f"<w:r><w:t>{t}</w:t></w:r>" for t in runs)
        ps.append(f"<w:p>{ppr}{rs}</w:p>")
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{''.join(ps)}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("matlab/document.xml", xml)
    return buf.getvalue()


def test_binary_mlx():
    data = _mlx_bytes([
        ("heading", ["Squares"]),
        ("text", ["Compute the ", "squares."]),
        ("matlab-Code", ["x = 1:3;"]),
        ("matlab-Code", ["y = x.^2;"]),
        (None, ["Show it:"]),
        ("matlab-Code", ["disp(y)"]),
    ])
    sections = parse_mlx_bytes(data)
    assert len(sections) >= 2
    assert any(k == "code" for k, _ in sections)
    assert any(k == "text" for k, _ in sections)
    # consecutive same-kind paragraphs merge; runs concatenate
    assert sections == [
        ("text", "Squares\nCompute the squares."),
        ("code", "x = 1:3;\ny = x.^2;"),
        ("text", "Show it:"),
        ("code", "disp(y)"),
    ]


# -- byte-identity invariant ---------------------------------------------------


def test_source_slice_byte_identity(ref_files):
    """extracted_text == dedented lines[lineno-1:endlineno] of the raw file
    (reference objects.py:470-495). Verified on every fixture."""
    import textwrap

    for p in sorted(ref_files.rglob("*.m")):
        text = p.read_text()
        try:
            u = parse_mfile(text, p.stem)
        except Exception:
            continue
        if u.lineno is None:
            continue
        got = source_slice(text.split("\n"), u.lineno, u.endlineno)
        expected = textwrap.dedent(
            "\n".join(text.split("\n")[u.lineno - 1 : u.endlineno])
        )
        assert got == expected, p
        # the slice must start at the definition and cover the whole body
        if u.kind == "function":
            assert got.lstrip().startswith("function"), p
        elif u.kind == "class":
            assert got.lstrip().startswith("classdef"), p


# -- docstring sections (P33) --------------------------------------------------


def test_docstring_sections():
    from maxx_spark.matparse.sections import docstring_sections

    doc = (
        "Clipped addition helper\n\nArguments:\n  x (double) - First input\n"
        "  y (double) - Second input\n\nReturns:\n  result (double) - Sum\n"
        "\nExample:\n  z = clipped_add(1, 2)\n"
    )
    secs = docstring_sections(doc)
    kinds = [k for k, _ in secs]
    assert kinds == ["description", "parameters", "returns", "examples"]
    assert "First input" in dict(secs)["parameters"]
    assert docstring_sections(None) == []
    assert docstring_sections("just text") == [("description", "just text")]


def test_docstring_sections_on_ref_corpus(ref_files):
    from maxx_spark.matparse.sections import docstring_sections

    m = _parse(ref_files, "pragma_function.m")
    secs = dict(docstring_sections(m.docstring.value))
    assert "parameters" in secs and "x (double)" in secs["parameters"]
    assert "returns" in secs


# -- statement-tokenizer edge cases (locks the _TOK_RE stream scanner) ------


def test_end_inside_brackets_is_index_not_closer():
    """'end' used as an array index (inside () or {}) must not close the
    enclosing block; ',' inside brackets must not start a statement."""
    src = (
        "function y = f(x)\n"
        "y = x(end, 1) + x(2, end);\n"
        "z = {x(end), 3};\n"
        "if numel(x) > 1, y = y + z{end}; end\n"
        "end\n"
    )
    m = parse_mfile(src, "f")
    assert m.kind == "function"
    assert m.name == "f"
    assert m.lineno == 1 and m.endlineno == 5  # outer end matched, not eaten


def test_separator_at_depth_restarts_statement():
    """After ';' or ',' at depth 0 a keyword opens a block; mid-expression
    words that merely CONTAIN digits/letters around keywords do not."""
    src = (
        "function g()\n"
        "a = 1; if a > 0\n"
        "b = trend(a);\n"   # 'trend' contains 'end' but is one word
        "end\n"
        "for k = 1:3, c(k) = k; end\n"
        "end\n"
    )
    m = parse_mfile(src, "g")
    assert m.kind == "function"
    assert m.endlineno == 6


def test_keyword_not_at_statement_start_is_identifier():
    """'properties' / 'methods' as plain identifiers (rhs of an assignment
    or argument) must not open blocks."""
    src = (
        "function h()\n"
        "x = properties struct\n"      # command-syntax-ish rhs words
        "y = foo(methods, events);\n"
        "end\n"
    )
    m = parse_mfile(src, "h")
    assert m.kind == "function"
    assert m.endlineno == 4


def test_parser_fuzz_never_raises_and_blocks_nest():
    """Deterministic fuzz (seeded LCG over a MATLAB-ish token alphabet):
    on arbitrary token soup the parser either returns a unit with sane
    line spans or raises the STRUCTURED SyntaxError of the P34 error path
    (what extract.py converts to error rows) — any other exception type is
    a bug. Guards the statement tokenizer against regressions on inputs no
    golden file covers."""
    toks = [
        "if", "for", "while", "end", "x", "y(1,end)", "z{end}", "'a''b%c'",
        '"d"', "...", "%", "% cmt", "%{", "%}", "(", ")", "[", "]", ";", ",",
        "=", "+", "function", "properties", "arguments", "42", "a.b.c",
        "trend", "endfor_", "_", "methods", "classdef",
    ]
    seed = 123456789

    def lcg():
        nonlocal seed
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        return seed

    for trial in range(60):
        n = 5 + lcg() % 40
        lines = []
        for _ in range(n):
            k = 1 + lcg() % 6
            lines.append(" ".join(toks[lcg() % len(toks)] for _ in range(k)))
        src = "\n".join(lines)
        try:
            m = parse_mfile(src, "fuzz")
        except SyntaxError:
            continue  # structured P34 outcome — extract.py emits an error row
        assert m.kind in ("function", "class", "script")
        assert 1 <= m.lineno <= m.endlineno <= n + 1
