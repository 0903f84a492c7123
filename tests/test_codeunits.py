"""Batch relational layer over code_units: shadowing dedup, folder rollup,
C3 MRO, inherited members, builtins join (P19, P25-P27, P32, E7)."""

import pytest
from pyspark.sql import functions as F

from maxx_spark.extract import extract_code_units
from maxx_spark.gen import generate_pages_df
from maxx_spark.operators.codeunits import (
    _c3_linearize,
    builtins_df,
    class_edges,
    class_mro,
    folder_rollup,
    inherited_members,
    link_builtin_bases,
    shadowing_dedup,
)


@pytest.fixture(scope="module")
def units(spark):
    pages = generate_pages_df(spark, n_projects=2, n_filler=20)
    u = extract_code_units(pages).cache()
    u.count()
    return u


def test_c3_pure():
    # classic diamond: D(B, C), B(A), C(A)
    parents = {"D": ["B", "C"], "B": ["A"], "C": ["A"]}
    assert _c3_linearize("D", parents) == ["D", "B", "C", "A"]
    # single chain
    assert _c3_linearize("Z", {"Z": ["Y"], "Y": ["X"]}) == ["Z", "Y", "X"]
    # cycle detection
    with pytest.raises(ValueError):
        _c3_linearize("A", {"A": ["B"], "B": ["A"]})


def test_shadowing_dedup(units):
    d = shadowing_dedup(units)
    # two accumulate.m per host (toolbox/ and toolbox/subdir/) → one survives
    acc = d.where(
        (F.col("unit_path") == "accumulate") & (F.col("kind") == "function")
    ).collect()
    hosts = [r["host"] for r in acc]
    assert len(acc) == len(set(hosts)) == 2
    # the shallower path (higher precedence) won
    assert all("/subdir/" not in r["url"] for r in acc)


def test_class_edges(units):
    e = class_edges(units)
    pairs = {(r["cls"], r["base"]) for r in e.collect()}
    assert ("FancyTracker", "Tracker") in pairs
    assert ("TurboTracker", "FancyTracker") in pairs
    # `handle` / `int8` are builtins — not resolvable as local classes
    assert not any(b in ("handle", "int8") for _, b in pairs)


def test_class_mro(units):
    mro = class_mro(units)
    rows = mro.where(F.col("cls") == "TurboTracker").orderBy("mro_pos").collect()
    # identical on both hosts; check one
    got = [r["ancestor"] for r in rows if r["host"].startswith("mega")]
    assert got == ["TurboTracker", "FancyTracker", "Tracker"]
    # a base-less class still has a trivial MRO
    lone = mro.where(F.col("cls") == "metrics.Gauge").collect()
    assert lone and all(r["ancestor"] == "metrics.Gauge" for r in lone)


_CLASS_UNITS = "url string, unit_path string, kind string, bases array<string>"


def _mro_of(spark, decls):
    """class_mro over one host's classdefs, given as (cls, [bases]) in
    declaration order → {cls: [ancestor, ...] in mro_pos order}."""
    units = spark.createDataFrame(
        [(f"https://h.example.com/tb/{c}.m", c, "class", bases) for c, bases in decls],
        _CLASS_UNITS,
    )
    out: dict[str, list] = {}
    for r in class_mro(units).orderBy("cls", "mro_pos").collect():
        assert r["host"] == "h.example.com"
        out.setdefault(r["cls"], []).append(r["ancestor"])
    return out


def test_class_mro_deep_chain(spark):
    """A 21-class single-inheritance chain: every class gets its full
    ancestry, however deep — there is no depth cap to truncate it."""
    n = 21
    mro = _mro_of(spark, [(f"C{i}", [f"C{i + 1}"] if i + 1 < n else []) for i in range(n)])
    assert mro == {f"C{i}": [f"C{j}" for j in range(i, n)] for i in range(n)}


def test_class_mro_local_precedence(spark):
    """C3 keeps each class's declared base order: `D < B & C` and
    `D < C & B` over the same diamond give the two different orders."""
    diamond = [("A", []), ("B", ["A"]), ("C", ["A"])]
    assert _mro_of(spark, diamond + [("D", ["B", "C"])])["D"] == ["D", "B", "C", "A"]
    assert _mro_of(spark, diamond + [("D", ["C", "B"])])["D"] == ["D", "C", "B", "A"]


def test_class_mro_cycles_degrade(spark):
    """A class whose ancestors form a cycle degrades to [cls]: an A<->B
    cycle, a self-base, a class below a cycle, and a 21-class ring; classes
    beside them in the same component keep their real MRO."""
    ring = [(f"R{i}", [f"R{(i + 1) % 21}"]) for i in range(21)]
    mro = _mro_of(
        spark,
        [("A", ["B"]), ("B", ["A"]), ("S", ["S"]), ("C", ["A", "X"]), ("X", []), ("Y", ["X"])]
        + ring,
    )
    for cls in ["A", "B", "S", "C"] + [c for c, _ in ring]:
        assert mro[cls] == [cls], cls
    assert mro["X"] == ["X"] and mro["Y"] == ["Y", "X"]


def test_class_mro_without_resolvable_bases(spark):
    """No class has a local base (builtins and undefined names only): no
    edge reaches the components solve, and each class gets one trivial
    row. The grouped-map function takes the group frame alone, so building
    the plan raises no eval-type UserWarning."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        mro = _mro_of(spark, [("P", ["handle"]), ("Q", []), ("R", ["Missing", "int8"])])
    assert mro == {"P": ["P"], "Q": ["Q"], "R": ["R"]}


def test_inherited_members(units):
    inh = inherited_members(units)
    rows = inh.where(
        (F.col("cls") == "TurboTracker") & F.col("host").startswith("mega")
    ).collect()
    by_name = {r["member_name"]: r for r in rows}
    # advance/Current/History defined on Tracker, visible on TurboTracker
    assert by_name["advance"]["defined_in"] == "Tracker"
    assert by_name["advance"]["inherited"] is True
    assert by_name["Current"]["defined_in"] == "Tracker"
    # Label defined on FancyTracker
    assert by_name["Label"]["defined_in"] == "FancyTracker"
    # own constructor overrides nothing but is its own member
    assert by_name["TurboTracker"]["inherited"] is False
    # nearest-definition-wins: FancyTracker ctor not visible on TurboTracker
    assert "FancyTracker" in by_name  # inherited ctor name differs → present
    assert by_name["FancyTracker"]["defined_in"] == "FancyTracker"


def test_folder_rollup(units):
    f = folder_rollup(units)
    toolbox = f.where(
        F.col("folder").endswith("/matlab/toolbox") & F.col("host").startswith("mega")
    ).first()
    assert toolbox is not None
    assert toolbox["n_members"] >= 10
    # Contents.m docstring becomes the folder docstring
    assert "Toolbox overview" in toolbox["folder_docstring"]
    # a folder without Contents.m falls back to its README.md (P19)
    subdir = f.where(
        F.col("folder").endswith("/toolbox/subdir") & F.col("host").startswith("mega")
    ).first()
    assert subdir is not None
    assert "Subdir helpers" in subdir["folder_docstring"]
    # README rows are docstring carriers, not members
    assert not any("README" in p for p in subdir["member_paths"])


def test_builtin_link(spark, units):
    b = builtins_df(spark)
    linked = link_builtin_bases(units, b)
    rows = linked.where(F.col("cls") == "Tracker").collect()
    assert rows and all(
        r["base_name"] == "handle" and r["doc_url"].endswith("/handle.html") for r in rows
    )


def test_mro_plan_is_distributed(units):
    """The MRO linearization must not collect to the driver: its plan
    contains FlatMapGroupsInPandas (one distributed applyInPandas group per
    inheritance component, the labels coming from connected_components)."""
    mro = class_mro(units)
    plan = mro._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_resolve_in_scope(spark, units):
    """P24: own members → namespace chain → root folder → builtins."""
    from maxx_spark.operators.codeunits import resolve_in_scope

    reqs = spark.createDataFrame(
        [
            ("mega-mat.example.com", "metrics.inner.Gauge", "rescale_span"),
            ("mega-mat.example.com", "metrics.Gauge", "rescale_span"),
            ("mega-mat.example.com", "Tracker", "advance"),
            ("mega-mat.example.com", "Tracker", "accumulate"),
            ("mega-mat.example.com", "Tracker", "sqrt"),
            ("mega-mat.example.com", "Tracker", "definitely_missing"),
        ],
        "host string, scope_path string, name string",
    )
    out = {
        (r["scope_path"], r["name"]): (r["resolved_path"], r["resolved_level"], r["resolution"])
        for r in resolve_in_scope(units, reqs, builtins_df(spark)).collect()
    }
    # the SAME name resolves differently at two scopes (shadowing)
    assert out[("metrics.inner.Gauge", "rescale_span")] == ("metrics.inner.rescale_span", 1, "scope")
    assert out[("metrics.Gauge", "rescale_span")] == ("metrics.rescale_span", 1, "scope")
    assert out[("Tracker", "advance")] == ("Tracker.advance", 0, "scope")
    assert out[("Tracker", "accumulate")] == ("accumulate", 1, "scope")
    path, lvl, res = out[("Tracker", "sqrt")]
    assert res == "builtin" and path.endswith("/sqrt.html") and lvl is None
    assert out[("Tracker", "definitely_missing")] == (None, None, "unresolved")


def test_builtin_expr_links(spark, units):
    """P32 generalized: bases, property defaults, and argument defaults all
    get doc links; the FIRST builtin identifier in the expression wins."""
    from maxx_spark.operators.builtins import builtins_dim, link_builtin_exprs

    out = link_builtin_exprs(units, builtins_dim(spark))
    rows = [r for r in out.collect() if r["host"].startswith("mega")]
    by_site = {}
    for r in rows:
        by_site.setdefault(r["site"], []).append(r)
    bases = {(r["unit_path"], r["builtin_name"]) for r in by_site["base"]}
    assert ("Tracker", "handle") in bases
    assert ("Level", "int8") in bases
    args = {(r["unit_path"], r["expr"], r["builtin_name"]) for r in by_site["argument_default"]}
    assert ("Tracker.reset", "false", "false") in args
    # quoted strings are stripped: "linear" must NOT produce a hit
    assert not any("linear" in r["expr"] for r in rows)
    # extended-table coverage (round-3): a toolbox builtin that the 550-name
    # core table missed now links — the quoted 'logo.png' is stripped and
    # imread (Image Processing Toolbox) is the first identifier
    props = {(r["unit_path"], r["builtin_name"]) for r in by_site["property_default"]}
    assert ("Shape.Thumbnail", "imread") in props


def test_expr_tokenize_escaped_quotes_and_comments(spark):
    """Expression-fidelity nuances (VERDICT r2): a doubled-quote escape
    inside a string literal must not leak the string tail as identifier
    tokens, and a trailing %-comment must not contribute identifiers."""
    from maxx_spark.operators.builtins import builtins_dim, link_builtin_exprs

    schema = (
        "url string, unit_path string, kind string, bases array<string>, "
        "attributes map<string,string>, arguments array<struct<name:string,default:string>>"
    )
    rows = [
        # sqrt only inside the string → no link at all
        ("https://h.example.com/x/C.m", "C.P", "property", None,
         {"default": "'use sqrt later'"}, None),
        # sqrt only inside the trailing comment → mod links, sqrt doesn't
        ("https://h.example.com/x/C.m", "C.Q", "property", None,
         {"default": "mod(x, 3) % sqrt fallback"}, None),
        # doubled-quote escape: 'it''s pi' is ONE literal — pi must not
        # link; floor (outside the string) does
        ("https://h.example.com/x/C.m", "C.R", "property", None,
         {"default": "'it''s pi' + floor(y)"}, None),
        # double-quoted variant with "" escape
        ("https://h.example.com/x/C.m", "C.S", "property", None,
         {"default": '"say ""sin"" now" + cos(z)'}, None),
    ]
    units = spark.createDataFrame(rows, schema)
    out = {
        r["unit_path"]: r["builtin_name"]
        for r in link_builtin_exprs(units, builtins_dim(spark)).collect()
    }
    assert "C.P" not in out
    assert out["C.Q"] == "mod"
    assert out["C.R"] == "floor"
    assert out["C.S"] == "cos"


def test_extended_builtins_resolve(spark, units):
    """Round-3 builtins expansion: previously-unresolved common toolbox
    names now resolve as builtins in scope resolution, and the dim holds
    >= 1,500 engine-owned names."""
    from maxx_spark.operators.builtins import all_builtin_names
    from maxx_spark.operators.codeunits import resolve_in_scope

    assert len(all_builtin_names()) >= 3500
    # round-4 coverage additions: names a real corpus links that were
    # previously unresolved — debugger (dbstop), legacy numerics (bsxfun),
    # project API (currentProject), App Designer (uifigure's Slider), FITS
    # I/O (fitsread was present; low-level readCol added), timers (timer)
    probes = ("imread", "fitlm", "parpool", "dbstop", "bsxfun",
              "currentProject", "timer", "readCol")
    reqs = spark.createDataFrame(
        [("mega-mat.example.com", "Tracker", n) for n in probes],
        "host string, scope_path string, name string",
    )
    out = {
        r["name"]: (r["resolution"], r["resolved_path"])
        for r in resolve_in_scope(units, reqs, builtins_df(spark)).collect()
    }
    for n in probes:
        res, path = out[n]
        assert res == "builtin" and path.endswith(f"/{n.lower()}.html"), n


def test_resolve_error_vs_unresolved(spark, units):
    """Reference objects.py:497-522: resolving inside a scope whose parent
    is a class (a method) stops after own members with an ERROR — it never
    consults outer scopes or builtins; 'unresolved' remains the full-chain
    miss from a namespace/folder chain."""
    from maxx_spark.operators.codeunits import resolve_in_scope

    reqs = spark.createDataFrame(
        [
            ("mega-mat.example.com", "Tracker.advance", "zeros"),       # builtin name, but cut
            ("mega-mat.example.com", "Tracker.advance", "no_such"),     # plain miss, cut
            ("mega-mat.example.com", "Tracker", "zeros"),               # class scope → builtin ok
        ],
        "host string, scope_path string, name string",
    )
    out = {
        (r["scope_path"], r["name"]): (r["resolution"], r["resolved_path"])
        for r in resolve_in_scope(units, reqs, builtins_df(spark)).collect()
    }
    assert out[("Tracker.advance", "zeros")] == ("error", None)
    assert out[("Tracker.advance", "no_such")] == ("error", None)
    res, path = out[("Tracker", "zeros")]
    assert res == "builtin" and path.endswith("/zeros.html")


def test_privacy_columns(units):
    """P30: is_private / is_internal are real CODE_UNITS columns — page
    level from the url (private dir / +internal), member level also from
    Access attributes (reference objects.py:967-972, 1113-1117)."""
    rows = units.where(F.col("url").contains("mega")).collect()
    pages = {r["url"].split("toolbox/")[1]: (r["is_private"], r["is_internal"])
             for r in rows
             if r["parent_path"] is None or (r["parent_path"] or "").startswith("+")}
    assert pages["private/top_secret.m"] == (True, False)
    assert pages["+internal/secret_gain.m"] == (False, True)
    assert pages["Tracker.m"] == (False, False)
    members = {r["unit_path"]: r["is_private"] for r in rows
               if r["parent_path"] and not r["parent_path"].startswith("+")}
    assert members["Ledger.rebalance"] is True          # @Ledger/private/
    assert members["Tracker.reset"] is True             # methods (Access=private)
    assert members["Tracker.advance"] is False          # public method
    assert members["Meter.RawValue"] is True            # properties (Access=private)
    assert members["Shape.Tag"] is False                # SetAccess=private only: readable
    assert members["Tracker.Current"] is False          # public property
