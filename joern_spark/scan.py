"""Packaged query bundles → FINDING rows (joern-scan analog).

Reference: ``console/.../scan/package.scala:14-44`` (Query → NewFinding),
querydb bundle shape ``querydb/.../c/CopyLoops.scala:11-39`` /
``java/SQLInjection.scala:15-38``. A query here is (name, title, severity,
traversal function CpgQuery-in → DataFrame of matched node ids); running a
bundle unions per-query findings into one ``findings`` table.

Dangerous-function queries anchor on the CALL node's ``name`` rather than
``cpg.method(regex).callIn``: the two are equivalent here because every
named call gets a (possibly external-stub) METHOD and a CALL edge from the
linkers, and name-anchoring keeps the DuckDB oracle twin
(``cpg_oracles._SCAN_SQL``) join-free. Regexes are anchored (``^...$``)
to match the reference's full-match property-filter semantics.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.frontier import expand
from .query import Cpg
from .query.dsl import ARITHMETIC_OPS, ARRAY_ACCESS_OPS, ASSIGNMENT_OPS


def _ancestor_pairs(edges: DataFrame, kind: str, starts: DataFrame) -> DataFrame:
    """(start_id, anc_id) transitive pairs walking ``kind`` edges backward
    (dst → src) from ``starts(node_id)``; excludes the trivial self pair.

    Per-start pairing (``start_id`` is an ``expand`` key), which the DSL's
    merged-visited-set closure cannot provide — needed whenever a query
    asks "is THIS call dominated by / inside ...". All three edge kinds used
    here are trees (AST parent, idom, ipdom), so the pair count is
    |starts| × depth, never quadratic in the graph.
    """
    step = edges.filter(F.col("kind") == kind).select(
        F.col("dst").alias("node_id"), F.col("src").alias("next_id"),
        F.lit(1).alias("cost"))
    seed = starts.select(F.col("node_id").alias("start_id"), "node_id",
                         F.lit(0).alias("depth"))
    return expand(seed, step, ["start_id"]).filter(F.col("depth") > 0).select(
        "start_id", F.col("node_id").alias("anc_id"))


def _decl_types(cpg: Cpg) -> DataFrame:
    """(method_id, name) → declared type from LOCAL / METHOD_PARAMETER_IN
    rows — the scan-side ``evalType`` analog (full inference lives in
    XTypeRecovery; scanners only need declaration types, matching the
    reference queries which run with ``NoResolve``)."""
    return (
        cpg.nodes.filter(F.col("kind").isin("LOCAL", "METHOD_PARAMETER_IN"))
        .filter(F.col("type_full_name") != "")
        .groupBy("method_id", "name")
        .agg(F.min("type_full_name").alias("decl_type"))
    )


def _args(cpg: Cpg) -> DataFrame:
    """ARGUMENT edges joined to the argument node's properties. Built once
    per ``Cpg`` and cached on the instance (as ``Cpg.flow`` caches its
    engine): most queries of a bundle start from it."""
    args = cpg.__dict__.get("_args")
    if args is None:
        a = cpg.edges.filter(F.col("kind") == "ARGUMENT").select(
            F.col("src").alias("call_id"), F.col("dst").alias("arg_id"))
        arg_nodes = cpg.nodes.select(
            F.col("node_id").alias("arg_id"), F.col("kind").alias("a_kind"),
            F.col("name").alias("a_name"), F.col("code").alias("a_code"),
            F.col("argument_index"), F.col("method_id").alias("a_mid"),
            F.col("type_full_name").alias("a_type"))
        args = cpg.__dict__["_args"] = a.join(arg_nodes, "arg_id")
    return args


@dataclass(frozen=True)
class Query:
    name: str
    title: str
    severity: float
    run: Callable[[Cpg], DataFrame]  # → DataFrame with node_id column


def _malloc_to_free_missing(cpg: Cpg) -> DataFrame:
    """allocated-but-never-freed heuristic: malloc call sites in methods
    with no free() call (querydb resource-leak family)."""
    mallocs = cpg.call("^malloc$").to_df().select("node_id", "method_id")
    frees = cpg.call("^free$").to_df().select(F.col("method_id").alias("fm")).distinct()
    return mallocs.join(frees, mallocs["method_id"] == frees["fm"], "left_anti").select("node_id")


def _literal_argument_to_risky_sink(cpg: Cpg) -> DataFrame:
    """dataflow query: literals reaching printf-family sink arguments
    (format-string family; uses the reachableBy engine)."""
    sinks = cpg.call("^(printf|sprintf|fprintf)$").argument().ids()
    sources = cpg.literal().ids()
    hits = cpg.flow(sinks, sources)
    return hits.select(F.col("sink_id").alias("node_id")).distinct()


def _uncalled_internal_method(cpg: Cpg) -> DataFrame:
    """dead-code family: internal non-main methods with no incoming CALL."""
    methods = cpg.method().is_external(False).to_df().filter(
        ~F.col("name").rlike("^main")
    ).select("node_id")
    call_dsts = (
        cpg.edges.filter(F.col("kind") == "CALL").select(F.col("dst").alias("node_id")).distinct()
    )
    return methods.join(call_dsts, "node_id", "left_anti")


def _deep_nesting(cpg: Cpg, depth: int = 3) -> DataFrame:
    """complexity family: control structures nested >= depth deep.

    Needs per-start pairing (``_ancestor_pairs`` keys the walk by
    ``start_id``), not the DSL's merged closure: starting the AST closure
    from ALL control structures at once makes every nested structure a
    seed of the one visited set, so it never surfaces as a descendant. A
    structure is nested >= depth deep iff it has >= depth-1 control-structure
    proper AST ancestors (ancestors on a tree path are all distinct)."""
    cs_ids = cpg.all().is_control_structure().ids()
    pairs = _ancestor_pairs(cpg.edges, "AST", cs_ids)
    cs_anc = pairs.join(cs_ids.withColumnRenamed("node_id", "anc_id"), "anc_id")
    return (
        cs_anc.groupBy("start_id").agg(F.countDistinct("anc_id").alias("k"))
        .filter(F.col("k") >= depth - 1)
        .select(F.col("start_id").alias("node_id"))
    )


# synthetic file-level wrapper methods the metrics queries must skip — the
# reference's `.nameNot("<global>")` (Metrics.scala:21) generalized to the
# jssrc `:program` and pysrc `<module>` conventions the mini-frontends emit
SYNTHETIC_METHOD_RE = "^(<global>|<module>|:program)$"


def _internal_named_methods(cpg: Cpg) -> DataFrame:
    """Internal, non-synthetic METHOD rows (Metrics.scala `method.internal
    ... .nameNot("<global>")` base traversal)."""
    return cpg.nodes.filter(
        (F.col("kind") == "METHOD") & (F.col("is_external") == False)  # noqa: E712
        & ~F.col("name").rlike(SYNTHETIC_METHOD_RE))


def _method_kind_count_over(cpg: Cpg, n: int, kind_filter) -> DataFrame:
    """Methods whose per-method count of ``kind_filter`` rows exceeds n."""
    counts = (
        cpg.nodes.filter(kind_filter)
        .groupBy("method_id").agg(F.count("*").alias("k"))
        .filter(F.col("k") > n)
        .select(F.col("method_id").alias("node_id"))
    )
    return _internal_named_methods(cpg).select("node_id").join(counts, "node_id")


def _too_many_params(cpg: Cpg, n: int = 4) -> DataFrame:
    """Metrics.scala:12-38 tooManyParameters: > n formal parameters."""
    return _method_kind_count_over(
        cpg, n, F.col("kind") == "METHOD_PARAMETER_IN")


def _too_high_complexity(cpg: Cpg, n: int = 4) -> DataFrame:
    """Metrics.scala:41-77 tooHighComplexity: > n control structures."""
    return _method_kind_count_over(
        cpg, n, F.col("kind") == "CONTROL_STRUCTURE")


def _multiple_returns(cpg: Cpg) -> DataFrame:
    """Metrics.scala:116-151 multipleReturns: > 1 return statement."""
    return _method_kind_count_over(cpg, 1, F.col("kind") == "RETURN")


def _too_many_loops(cpg: Cpg, n: int = 4) -> DataFrame:
    """Metrics.scala:154-196 tooManyLoops: > n FOR/DO/WHILE structures."""
    return _method_kind_count_over(
        cpg, n, (F.col("kind") == "CONTROL_STRUCTURE")
        & F.col("ctrl_type").isin("FOR", "DO", "WHILE"))


def _too_long(cpg: Cpg, n: int = 1000) -> DataFrame:
    """Metrics.scala:80-113 tooLong: more than n lines.

    The reference reads `method.numberOfLines` off the frontend's
    lineNumber/lineNumberEnd pair; the mini-frontends carry per-node `line`
    only, so the span is re-derived as max-min line over the method's own
    rows — identical for well-formed bodies (every method ends in a
    statement-bearing line)."""
    spans = (
        cpg.nodes.filter(F.col("line").isNotNull())
        .groupBy("method_id").agg(F.max("line").alias("mx"),
                                  F.min("line").alias("mn"))
    )
    m = _internal_named_methods(cpg).select("node_id", "line")
    return (
        m.join(spans, m["node_id"] == spans["method_id"])
        .filter(F.greatest(F.col("mx"), F.col("line"))
                - F.least(F.col("mn"), F.col("line")) + 1 > n)
        .select("node_id")
    )


def _too_nested(cpg: Cpg, n: int = 3) -> DataFrame:
    """Metrics.scala:199-238 tooNested: control-structure nesting depth > n
    (i.e. a chain of n+1 nested control structures exists); reports the
    METHOD like the reference, not the innermost structure."""
    deep = _deep_nesting(cpg, depth=n + 1)
    owners = cpg.nodes.select("node_id", "method_id").join(deep, "node_id") \
        .select(F.col("method_id").alias("node_id")).distinct()
    return _internal_named_methods(cpg).select("node_id").join(owners, "node_id")


def _unsafe_hash_algo(cpg: Cpg) -> DataFrame:
    """java/CryptographyMisuse.scala:18-57 unsafeHashAlgo: an "MD5"/"SHA-1"
    literal reaches a MessageDigest.getInstance parameter. Like the
    reference's `sink.reachableBy(source)`, the finding marks the SOURCE
    literal (the java-mini frontend emits `MessageDigest.getInstance` full
    names; the package-qualified prefix is accepted for jimple's exact
    signatures)."""
    sources = cpg.nodes.filter(
        (F.col("kind") == "LITERAL")
        & F.col("code").rlike('^"(MD5|SHA-1)"$')).select("node_id")
    digest = cpg.nodes.filter(
        (F.col("kind") == "METHOD")
        & F.col("full_name").rlike(
            r"^(java\.security\.)?MessageDigest\.getInstance")
    ).select(F.col("node_id").alias("method_id"))
    sinks = cpg.parameter().to_df().join(digest, "method_id").select("node_id")
    hits = cpg.flow(sinks, sources)
    return hits.select(F.col("source_id").alias("node_id")).distinct()


def _low_iteration_pbe_key(cpg: Cpg, n: int = 1000) -> DataFrame:
    """java/CryptographyMisuse.scala:60-97 lowIterationPbeKey: an integer
    literal < n reaches a PBEKeySpec constructor parameter; marks the
    source literal (the reference's post-reachableBy code filter)."""
    sources = cpg.nodes.filter(
        (F.col("kind") == "LITERAL") & F.col("code").rlike("^[0-9]+$")
        & (F.col("code").cast("long") < n)).select("node_id")
    pbe = cpg.nodes.filter(
        (F.col("kind") == "METHOD")
        & F.col("full_name").rlike(
            r"^(javax\.crypto\.spec\.)?PBEKeySpec\.<init>")
    ).select(F.col("node_id").alias("method_id"))
    sinks = cpg.parameter().to_df().join(pbe, "method_id").select("node_id")
    hits = cpg.flow(sinks, sources)
    return hits.select(F.col("source_id").alias("node_id")).distinct()


def _call_to(name_regex: str) -> Callable[[Cpg], DataFrame]:
    """Dangerous-function family (querydb/c/DangerousFunctions.scala:13-330):
    every call site whose callee name matches."""
    def run(cpg: Cpg) -> DataFrame:
        return cpg.call(name_regex).ids()
    return run


def _format_controlled_printf(cpg: Cpg) -> DataFrame:
    """printf with non-literal format (arg 1), sprintf/vsprintf with
    non-literal format (arg 2) — DangerousFunctions.scala:56-77
    (``argvUsedInPrintf``: ``whereNot(_.argument.order(n).isLiteral)``)."""
    args = _args(cpg)
    lit1 = args.filter((F.col("argument_index") == 1)
                       & (F.col("a_kind") == "LITERAL")).select("call_id")
    lit2 = args.filter((F.col("argument_index") == 2)
                       & (F.col("a_kind") == "LITERAL")).select("call_id")
    printf = cpg.call("(?i)^printf$").ids().withColumnRenamed("node_id", "call_id") \
        .join(lit1, "call_id", "left_anti")
    sprintf = cpg.call("(?i)^(sprintf|vsprintf)$").ids() \
        .withColumnRenamed("node_id", "call_id") \
        .join(lit2, "call_id", "left_anti")
    return printf.unionByName(sprintf).select(F.col("call_id").alias("node_id"))


def _signed_left_shift(cpg: Cpg) -> DataFrame:
    """<<  /  <<=  with a signed int/long left operand, unless both operands
    are literals (SignedLeftShift.scala:23-28). Operand type = literal's own
    type or the identifier's declaration type."""
    shifts = cpg.nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("name").isin("<operator>.shiftLeft",
                             "<operator>.assignmentShiftLeft")
    ).select(F.col("node_id").alias("call_id"))
    args = _args(cpg).join(shifts, "call_id")
    decl = _decl_types(cpg)
    a1 = args.filter(F.col("argument_index") == 1).join(
        decl,
        (args["a_mid"] == decl["method_id"]) & (args["a_name"] == decl["name"]),
        "left",
    ).withColumn(
        "t1",
        F.when(F.col("a_kind") == "LITERAL", F.col("a_type"))
         .otherwise(F.col("decl_type")),
    ).filter(F.col("t1").isin("int", "long")).select("call_id")
    both_lit = (
        args.filter(F.col("argument_index").isin(1, 2))
        .groupBy("call_id")
        .agg(F.sum(F.when(F.col("a_kind") == "LITERAL", 1).otherwise(0)).alias("nlit"))
        .filter(F.col("nlit") == 2).select("call_id")
    )
    return a1.join(both_lit, "call_id", "left_anti") \
        .select(F.col("call_id").alias("node_id")).distinct()


def _strlen_truncation(cpg: Cpg) -> DataFrame:
    """strlen result assigned to an int-typed target
    (IntegerTruncations.scala:28-35: ``strlen.callIn.inAssignment.target
    .evalType("(g?)int")``; size_t → int truncates on 64-bit)."""
    args = _args(cpg)
    strlen_calls = cpg.call("(?i)^strlen$").ids()
    asn = cpg.nodes.filter(F.col("name").isin(ASSIGNMENT_OPS)) \
        .select(F.col("node_id").alias("call_id"))
    enclosing = args.join(strlen_calls,
                          args["arg_id"] == strlen_calls["node_id"]) \
        .select("call_id").join(asn, "call_id")
    targets = args.join(enclosing, "call_id").filter(
        (F.col("argument_index") == 1) & (F.col("a_kind") == "IDENTIFIER"))
    decl = _decl_types(cpg)
    return targets.join(
        decl,
        (targets["a_mid"] == decl["method_id"]) & (targets["a_name"] == decl["name"]),
    ).filter(F.col("decl_type").rlike("^(g?)int$")) \
        .select(F.col("arg_id").alias("node_id")).distinct()


def _not_dominated_by(cpg: Cpg, call_regex: str, guard_regex: str) -> DataFrame:
    """Calls matching ``call_regex`` with no ``guard_regex`` call among their
    strict dominators (CredentialDrop.scala:26-31/70-75:
    ``whereNot(_.dominatedBy.isCall.name(...))``)."""
    starts = cpg.call(call_regex).ids()
    dom = _ancestor_pairs(cpg.edges, "DOMINATE", starts)
    guards = cpg.call(guard_regex).ids().withColumnRenamed("node_id", "anc_id")
    guarded = dom.join(guards, "anc_id").select(
        F.col("start_id").alias("node_id")).distinct()
    return starts.join(guarded, "node_id", "left_anti")


def _return_value_not_checked(cpg: Cpg, call_regex: str) -> DataFrame:
    """``returnValueNotChecked`` (QueryLangExtensions.scala:11-27): calls
    whose result is (a) not compared inside an enclosing condition, (b) whose
    assignment target never appears in any condition of the method, and
    (c) not directly returned. Used by RetvalChecks.scala:12-27
    (read/recv/malloc) and SocketApi.scala:14-31 (send)."""
    calls = cpg.call(call_regex).to_df().select(
        "node_id", F.col("code").alias("c_code"),
        F.col("method_id").alias("c_mid"))
    starts = calls.select("node_id")
    anc = _ancestor_pairs(cpg.edges, "AST", starts)
    # (a) an AST ancestor is a control structure whose condition's code
    # contains the call's code
    cond = cpg.edges.filter(F.col("kind") == "CONDITION").select(
        F.col("src").alias("anc_id"), F.col("dst").alias("cond_id"))
    cond_code = cpg.nodes.select(F.col("node_id").alias("cond_id"),
                                 F.col("code").alias("cond_code"))
    direct = (
        anc.join(cond, "anc_id").join(cond_code, "cond_id")
        .join(calls, anc["start_id"] == calls["node_id"])
        .filter(F.col("cond_code").contains(F.col("c_code")))
        .select(F.col("start_id").alias("node_id")).distinct()
    )
    # (c) directly returned
    anc_kind = cpg.nodes.select(F.col("node_id").alias("anc_id"),
                                F.col("kind").alias("anc_kind"))
    in_ret = (anc.join(anc_kind, "anc_id")
              .filter(F.col("anc_kind") == "RETURN")
              .select(F.col("start_id").alias("node_id")).distinct())
    # (b) the assignment target's code appears among the method's condition
    # subtrees (identifier names ∪ call codes — the reference's checkedVars)
    args = _args(cpg)
    asn = cpg.nodes.filter(F.col("name").isin(list(ASSIGNMENT_OPS))).select(
        F.col("node_id").alias("call_id"))
    rhs = args.join(asn, "call_id").filter(F.col("argument_index") == 2).select(
        "call_id", F.col("arg_id").alias("rhs_id"))
    tgt = args.filter(F.col("argument_index") == 1).select(
        F.col("call_id").alias("t_call"), F.col("a_code").alias("t_code"))
    call_tgt = (rhs.join(calls, rhs["rhs_id"] == calls["node_id"])
                .join(tgt, F.col("call_id") == F.col("t_call"))
                .select("node_id", "t_code", "c_mid"))
    mids = calls.select(F.col("c_mid").alias("method_id")).distinct()
    cand = cpg.nodes.join(mids, "method_id").filter(
        F.col("kind").isin("IDENTIFIER", "CALL")).select(
        "node_id", "method_id", "kind", "name", "code")
    anc2 = _ancestor_pairs(cpg.edges, "AST", cand.select("node_id"))
    cond_roots = cpg.edges.filter(F.col("kind") == "CONDITION").select(
        F.col("dst").alias("anc_id"))
    in_cond = (
        anc2.join(cond_roots, "anc_id")
        .select(F.col("start_id").alias("node_id"))
        .unionByName(cand.select("node_id").join(
            cond_roots.withColumnRenamed("anc_id", "node_id"), "node_id"))
        .distinct()
    )
    checked = (cand.join(in_cond, "node_id")
               .select("method_id",
                       F.when(F.col("kind") == "IDENTIFIER", F.col("name"))
                       .otherwise(F.col("code")).alias("chk_code"))
               .distinct())
    tgt_checked = (
        call_tgt.join(checked,
                      (call_tgt["c_mid"] == checked["method_id"])
                      & (call_tgt["t_code"] == checked["chk_code"]))
        .select(call_tgt["node_id"]).distinct()
    )
    return (starts.join(direct, "node_id", "left_anti")
            .join(in_ret, "node_id", "left_anti")
            .join(tgt_checked, "node_id", "left_anti"))


def _unchecked_read_recv_malloc(cpg: Cpg) -> DataFrame:
    return _return_value_not_checked(cpg, "(?i)^(read|recv|malloc)$")


def _socket_send(cpg: Cpg) -> DataFrame:
    return _return_value_not_checked(cpg, "(?i)^send$")


# FileOpRace.scala:28-58 — path argument positions per file operation
_FILE_OPS = {
    "access": [1], "chdir": [1], "chmod": [1], "chown": [1], "creat": [1],
    "faccessat": [2], "fchmodat": [2], "fopen": [1], "fstatat": [2],
    "lchown": [1], "linkat": [2, 4], "link": [1, 2], "lstat": [1],
    "mkdirat": [2], "mkdir": [1], "mkfifoat": [2], "mkfifo": [1],
    "mknodat": [2], "mknod": [1], "openat": [2], "open": [1],
    "readlinkat": [2], "readlink": [1], "renameat": [2, 4],
    "rename": [1, 2], "rmdir": [1], "stat": [1], "unlinkat": [2],
    "unlink": [1],
}


def _file_operation_race(cpg: Cpg) -> DataFrame:
    """FileOpRace.scala:13-72: two file operations in one method share a
    non-literal path argument (TOCTOU race)."""
    spark = cpg.nodes.sparkSession
    ops = spark.createDataFrame(
        [(k, i) for k, v in _FILE_OPS.items() for i in v],
        "op_name string, op_idx int")
    calls = cpg.nodes.filter(F.col("kind") == "CALL").select(
        "node_id", "name", "method_id")
    args = _args(cpg)
    fo = (calls.join(F.broadcast(ops), calls["name"] == ops["op_name"])
          .join(args, calls["node_id"] == args["call_id"])
          .filter((F.col("argument_index") == F.col("op_idx"))
                  & (F.col("a_kind") != "LITERAL"))
          .select("node_id", "method_id", "a_code"))
    other = fo.select(F.col("node_id").alias("o_id"),
                      F.col("method_id").alias("o_mid"),
                      F.col("a_code").alias("o_code"))
    return (fo.join(other, (fo["method_id"] == other["o_mid"])
                    & (fo["a_code"] == other["o_code"])
                    & (fo["node_id"] != other["o_id"]))
            .select("node_id").distinct())


def _call_to_exec(cpg: Cpg) -> DataFrame:
    """java/DangerousFunctions.scala:12-27: Runtime.exec call sites (full
    name — the mini-frontends key dynamic calls by simple class names)."""
    return cpg.nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("full_name").rlike(r"^(java\.lang\.)?Runtime\.exec$")
    ).select("node_id")


def _setuid_without_setgid(cpg: Cpg) -> DataFrame:
    return _not_dominated_by(cpg, "(?i)^set(res|re|e|)uid$",
                             "(?i)^set(res|re|e|)?gid$")


def _setgid_without_setgroups(cpg: Cpg) -> DataFrame:
    return _not_dominated_by(cpg, "(?i)^set(res|re|e|)gid$", "^setgroups$")


def _copy_loop(cpg: Cpg) -> DataFrame:
    """Array write whose subscript is incremented by an enclosing for loop
    (CopyLoops.scala:23-38): for assignment-target array accesses, intersect
    the subscript codes with the assignment-target codes of the enclosing
    FOR's non-block AST children. Finding node = the array expression."""
    args = _args(cpg)
    asn = cpg.nodes.filter(F.col("name").isin(ASSIGNMENT_OPS)) \
        .select(F.col("node_id").alias("call_id"))
    # array accesses in assignment-target position
    acc = args.join(asn, "call_id").filter(
        (F.col("argument_index") == 1) & (F.col("a_kind") == "CALL")
        & F.col("a_name").isin(ARRAY_ACCESS_OPS)
    ).select(F.col("arg_id").alias("access_id"))
    parts = args.withColumnRenamed("call_id", "access_id").join(acc, "access_id")
    arrays = parts.filter(F.col("argument_index") == 1).select(
        "access_id", F.col("arg_id").alias("array_id"))
    subs = parts.filter(F.col("argument_index") == 2).select(
        "access_id", F.col("a_code").alias("sub_code"))
    # enclosing FOR ancestors of each access
    fors = cpg.nodes.filter(
        (F.col("kind") == "CONTROL_STRUCTURE") & (F.col("ctrl_type") == "FOR")
    ).select(F.col("node_id").alias("anc_id"))
    enclosing_for = _ancestor_pairs(cpg.edges, "AST", acc.select(
        F.col("access_id").alias("node_id"))) \
        .join(fors, "anc_id") \
        .select(F.col("start_id").alias("access_id"), F.col("anc_id").alias("for_id"))
    # the FOR's non-block direct children, their AST subtrees' assignment targets
    ast = cpg.edges.filter(F.col("kind") == "AST").select("src", "dst")
    kids = enclosing_for.select("for_id").distinct().join(
        ast, F.col("for_id") == F.col("src")).select(
        "for_id", F.col("dst").alias("kid_id"))
    non_block = kids.join(
        cpg.nodes.filter(F.col("kind") != "BLOCK")
        .select(F.col("node_id").alias("kid_id")), "kid_id")
    # subtree closure: ancestor pairs seeded from every assignment node, kept
    # when a non-block for-kid is among the ancestors (or is the node itself)
    asn_nodes = cpg.nodes.filter(F.col("name").isin(ASSIGNMENT_OPS)) \
        .select("node_id")
    asn_anc = _ancestor_pairs(cpg.edges, "AST", asn_nodes) \
        .unionByName(asn_nodes.select(F.col("node_id").alias("start_id"),
                                      F.col("node_id").alias("anc_id")))
    asn_in_for = asn_anc.join(
        non_block, asn_anc["anc_id"] == non_block["kid_id"]) \
        .select(F.col("start_id").alias("call_id"), "for_id")
    # inc_for_id alias: inc_targets' for_id descends from enclosing_for's, so
    # an equality on the shared name resolves to the SAME attribute (Spark
    # plans a trivially-true predicate, i.e. a cross join across FOR loops)
    inc_targets = asn_in_for.join(args, "call_id").filter(
        F.col("argument_index") == 1).select(
        F.col("for_id").alias("inc_for_id"),
        F.col("a_code").alias("inc_code")).distinct()
    hits = (
        enclosing_for.join(subs, "access_id")
        .join(inc_targets,
              (F.col("for_id") == F.col("inc_for_id"))
              & (F.col("sub_code") == F.col("inc_code")))
        .select("access_id").distinct()
    )
    return hits.join(arrays, "access_id").select(
        F.col("array_id").alias("node_id")).distinct()


def _sql_injection(cpg: Cpg) -> DataFrame:
    """Parameters of request-handler methods (return type ModelAndView)
    reaching the first parameter of a ``query`` method
    (java/SQLInjection.scala:27-37)."""
    handler_methods = cpg.nodes.filter(
        (F.col("kind") == "METHOD_RETURN")
        & F.col("type_full_name").rlike("ModelAndView")
    ).select("method_id")
    sources = cpg.parameter().to_df().join(handler_methods, "method_id") \
        .select("node_id")
    query_methods = cpg.method("^query$").ids() \
        .withColumnRenamed("node_id", "method_id")
    sinks = cpg.parameter().order(1).to_df().join(query_methods, "method_id") \
        .select("node_id")
    hits = cpg.flow(sinks, sources)
    return hits.select(F.col("sink_id").alias("node_id")).distinct()


def _free_follows_value_reuse(cpg: Cpg) -> DataFrame:
    """Identifier used after being free'd on every path from the free, with
    no reassignment in between (UseAfterFree.scala:180-209
    ``freePostDominatesUsage``, modeled after CVE-2019-18903): uses that
    post-dominate the free call, minus reassignment targets of the same
    variable and everything post-dominated by such a reassignment.
    Reassignment = assignment-target position (the reference's broader
    ``inAssignment`` guard also excuses RHS appearances; target-only is the
    strictly-sound reading and what its code examples exercise)."""
    args = _args(cpg)
    one_arg = args.groupBy("call_id").agg(
        F.count("*").alias("n_args")).filter(F.col("n_args") == 1)
    frees = (
        cpg.call("^(.*_)?free$").to_df()
        .select(F.col("node_id").alias("call_id"))
        .join(one_arg.select("call_id"), "call_id")
        .join(args.filter((F.col("argument_index") == 1)
                          & (F.col("a_kind") == "IDENTIFIER")), "call_id")
        .select("call_id", F.col("a_code").alias("var_code"))
    )
    pdom = _ancestor_pairs(cpg.edges, "POST_DOMINATE",
                           frees.select(F.col("call_id").alias("node_id")))
    idents = cpg.nodes.filter(F.col("kind") == "IDENTIFIER").select(
        F.col("node_id").alias("anc_id"), F.col("code").alias("use_code"))
    uses = (
        pdom.join(frees, pdom["start_id"] == frees["call_id"])
        .join(idents, "anc_id")
        .filter(F.col("use_code") == F.col("var_code"))
        .select("start_id", F.col("anc_id").alias("use_id"))
    )
    asn = cpg.nodes.filter(F.col("name").isin(ASSIGNMENT_OPS)) \
        .select(F.col("node_id").alias("call_id"))
    reassign = uses.join(
        args.filter(F.col("argument_index") == 1).join(asn, "call_id")
        .select(F.col("arg_id").alias("use_id")),
        "use_id",
    )
    # excluded = the reassignment targets themselves + their post-dominators
    re_pdom = _ancestor_pairs(cpg.edges, "POST_DOMINATE", reassign.select(
        F.col("use_id").alias("node_id")))
    excluded = reassign.select("start_id", "use_id").unionByName(
        reassign.join(re_pdom, reassign["use_id"] == re_pdom["start_id"])
        .select(reassign["start_id"], F.col("anc_id").alias("use_id"))
    ).distinct()
    return uses.join(excluded, ["start_id", "use_id"], "left_anti") \
        .select(F.col("use_id").alias("node_id")).distinct()


def _free_field_no_reassign(cpg: Cpg) -> DataFrame:
    """UseAfterFree.scala:16-53 freeFieldNoReassign: ``free(param->field)``
    where the struct is a parameter of the enclosing method, the whole
    struct is not itself freed/cleared in that method, and the free'd field
    access flows to the method return (i.e. no path reassigns it before
    exit — the DDG def from the external ``free`` arg reaches METHOD_RETURN
    exactly when some path lacks a kill). Marks the field-access argument."""
    args = _args(cpg)
    accesses = cpg.nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("name").rlike("^<operator>\\..*[fF]ieldAccess.*$")
    ).select(F.col("node_id").alias("arg_id"),
             F.col("method_id").alias("fa_mid"),
             F.col("doc_id").alias("fa_doc"))
    free_args = (
        cpg.call("^free$").ids().withColumnRenamed("node_id", "call_id")
        .join(args.filter(F.col("argument_index") == 1), "call_id")
        .join(accesses, "arg_id")
    )
    # the struct operand (field access argument 1) must be a parameter name
    # of the enclosing method (x.method.parameter.name.toSet contains it)
    struct_ops = args.filter(F.col("argument_index") == 1).select(
        F.col("call_id").alias("arg_id"), F.col("a_code").alias("struct_code"))
    params = cpg.nodes.filter(F.col("kind") == "METHOD_PARAMETER_IN").select(
        F.col("method_id").alias("fa_mid"), F.col("name").alias("struct_code"))
    cand = free_args.join(struct_ops, "arg_id") \
        .join(params.distinct(), ["fa_mid", "struct_code"])
    # whereNot: the same method also frees/clears the whole struct
    # (struct.method.ast.isCall.name(".*free$","memset","bzero")
    #  .argument(1).codeExact(struct.code))
    clears = (
        cpg.nodes.filter(
            (F.col("kind") == "CALL")
            & F.col("name").rlike("^((.*free)|memset|bzero)$"))
        .select(F.col("node_id").alias("call_id"),
                F.col("method_id").alias("fa_mid"))
        .join(args.filter(F.col("argument_index") == 1)
              .select("call_id", F.col("a_code").alias("struct_code")),
              "call_id")
        .select("fa_mid", "struct_code").distinct()
    )
    cand = cand.join(clears, ["fa_mid", "struct_code"], "left_anti")
    # arg.method.methodReturn.reachableBy(arg): the free'd access reaches
    # the enclosing method's return through the DDG
    rets = cpg.nodes.filter(F.col("kind") == "METHOD_RETURN").select(
        F.col("node_id").alias("sink_id"), F.col("method_id").alias("fa_mid"))
    hits = cpg.flow(rets.select(F.col("sink_id").alias("node_id")),
                    cand.select(F.col("arg_id").alias("node_id")).distinct())
    same_method = (
        hits.join(rets, "sink_id")
        .join(cand.select(F.col("arg_id").alias("source_id"), "fa_mid")
              .distinct(), ["source_id", "fa_mid"])
    )
    return same_method.select(F.col("source_id").alias("node_id")).distinct()


def _free_returned_value(cpg: Cpg) -> DataFrame:
    """UseAfterFree.scala:82-139 freeReturnedValue (CVE-2019-18902 shape):
    a local stored into an output parameter's pointee
    (``param->field = x`` / ``*param = x`` / ``param[i] = x``) and later
    free'd on a path the store dominates. ``refsTo``/``referencingIdentifiers``
    are modeled as same-method same-name identifier sets (the C frontends
    resolve locals/params lexically per method). Marks the stored
    identifier."""
    args = _args(cpg)
    idents = args.filter(F.col("a_kind") == "IDENTIFIER")
    # outParams: pointer-typed parameters never themselves reassigned or
    # address-taken (argumentIndex 1 of assignment / addressOf)
    reasn_or_addr = cpg.nodes.filter(
        F.col("name").isin("<operator>.assignment", "<operator>.addressOf")
    ).select(F.col("node_id").alias("call_id"))
    param_writes = (
        idents.filter(F.col("argument_index") == 1)
        .join(reasn_or_addr, "call_id")
        .select(F.col("a_mid").alias("method_id"),
                F.col("a_name").alias("name")).distinct()
    )
    out_params = (
        cpg.nodes.filter((F.col("kind") == "METHOD_PARAMETER_IN")
                         & F.col("code").rlike(".+\\*.+"))
        .select("method_id", "name")
        .join(param_writes, ["method_id", "name"], "left_anti")
    )
    # assignedValues: ident-referencing-outParam at arg 1 of an indirect
    # access, that access at arg 1 of an assignment, assignment arg 2 an
    # identifier
    indirect = cpg.nodes.filter(F.col("name").isin(
        "<operator>.indirectFieldAccess", "<operator>.indirection",
        "<operator>.indirectIndexAccess")).select(
        F.col("node_id").alias("call_id"))
    deref_of_param = (
        idents.filter(F.col("argument_index") == 1)
        .join(indirect, "call_id")
        .join(out_params,
              (F.col("a_mid") == out_params["method_id"])
              & (F.col("a_name") == out_params["name"]))
        .select(F.col("call_id").alias("arg_id"))
    )
    assign = cpg.nodes.filter(F.col("name") == "<operator>.assignment") \
        .select(F.col("node_id").alias("call_id"))
    stored_assigns = (
        args.filter(F.col("argument_index") == 1).join(assign, "call_id")
        .join(deref_of_param, "arg_id").select("call_id")
    )
    stored_ids = (
        idents.filter(F.col("argument_index") == 2)
        .join(stored_assigns, "call_id")
        .select(F.col("arg_id").alias("node_id"),
                F.col("a_mid").alias("method_id"),
                F.col("a_name").alias("name"))
    )
    # freeAssigned: any same-method identifier with the stored name directly
    # inside a `(.*_)?free` call
    free_calls = cpg.nodes.filter(
        (F.col("kind") == "CALL") & F.col("name").rlike("^(.*_)?free$")
    ).select(F.col("node_id").alias("call_id"))
    freed_uses = (
        idents.join(free_calls, "call_id")
        .select(F.col("call_id").alias("free_id"),
                F.col("a_mid").alias("method_id"),
                F.col("a_name").alias("name"))
    )
    pairs = stored_ids.join(freed_uses, ["method_id", "name"])
    # freeCall.dominatedBy contains the stored identifier node
    dom = _ancestor_pairs(
        cpg.edges, "DOMINATE",
        pairs.select(F.col("free_id").alias("node_id")).distinct())
    return (
        pairs.join(dom, (pairs["free_id"] == dom["start_id"])
                   & (pairs["node_id"] == dom["anc_id"]))
        .select(pairs["node_id"]).distinct()
    )


def _ineffective_certificate_check(cpg: Cpg) -> DataFrame:
    """java/CertificateChecks.scala:14-60 certChecks: a certificate/hostname
    validator whose body is nothing but argument-copy prologue and an
    always-positive return. Structural reading of the reference's CFG
    prologue-skip: no control structure, no non-assignment call, exactly one
    RETURN whose children are at most identifiers (the reference skips
    local-ref identifiers as prologue) or a true/1 literal (lit.code == "1"
    is the bytecode spelling of `true`). Signature pinning is by parameter
    type (SSLSession / X509Certificate) — the mini frontends emit
    source-level signatures, not JVM descriptors. Marks the RETURN."""
    nodes = cpg.nodes
    params = nodes.filter(F.col("kind") == "METHOD_PARAMETER_IN")
    v1 = nodes.filter((F.col("kind") == "METHOD")
                      & (F.col("name") == "verify")).select("node_id") \
        .join(params.filter(F.col("type_full_name").rlike("SSLSession"))
              .select(F.col("method_id").alias("node_id")).distinct(),
              "node_id")
    v2 = nodes.filter(
        (F.col("kind") == "METHOD")
        & F.col("name").isin("checkClientTrusted", "checkServerTrusted")) \
        .select("node_id") \
        .join(params.filter(F.col("type_full_name").rlike("X509Certificate"))
              .select(F.col("method_id").alias("node_id")).distinct(),
              "node_id")
    validators = v1.unionByName(v2)
    cs = nodes.filter(F.col("kind") == "CONTROL_STRUCTURE").select(
        F.col("method_id").alias("node_id")).distinct()
    real_calls = nodes.filter((F.col("kind") == "CALL")
                              & ~F.col("name").isin(ASSIGNMENT_OPS)) \
        .select(F.col("method_id").alias("node_id")).distinct()
    one_ret = nodes.filter(F.col("kind") == "RETURN") \
        .groupBy("method_id").agg(F.count("*").alias("k")) \
        .filter(F.col("k") == 1).select(F.col("method_id").alias("node_id"))
    trivial = validators.join(cs, "node_id", "left_anti") \
        .join(real_calls, "node_id", "left_anti").join(one_ret, "node_id")
    rets = nodes.filter(F.col("kind") == "RETURN").select(
        F.col("node_id").alias("ret_id"), F.col("method_id").alias("node_id"))
    kid_nodes = (
        cpg.edges.filter(F.col("kind") == "AST")
        .select(F.col("src").alias("ret_id"), F.col("dst").alias("kid_id"))
        .join(nodes.select(F.col("node_id").alias("kid_id"),
                           F.col("kind").alias("k_kind"),
                           F.col("code").alias("k_code")), "kid_id")
    )
    bad_kids = kid_nodes.filter(
        (F.col("k_kind") == "CALL")
        | ((F.col("k_kind") == "LITERAL")
           & ~F.col("k_code").isin("true", "1"))).select("ret_id").distinct()
    return rets.join(trivial, "node_id").join(bad_kids, "ret_id", "left_anti") \
        .select(F.col("ret_id").alias("node_id")).distinct()


def _xss_servlet(cpg: Cpg) -> DataFrame:
    """java/CrossSiteScripting.scala:15-44 xssServlet: an
    HttpServletRequest.getParameter value reaches a PrintWriter.println
    whose writer came from HttpServletResponse.getWriter. The parameter leg
    is real dataflow (reachableBy); the writer leg is structural (the
    println receiver's defining assignment has a getWriter RHS) — this
    engine's DDG carries no receiver def-use edge. Marks the println."""
    args = _args(cpg)
    println = cpg.nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("full_name").rlike(r"^(java\.io\.)?PrintWriter\.println")
    ).select(F.col("node_id").alias("call_id"),
             F.col("method_id").alias("m_id"))
    # receivers hang off a RECEIVER (not ARGUMENT) edge; the node row itself
    # carries argument_index 0 and its parent call id
    recv = cpg.nodes.filter((F.col("kind") == "IDENTIFIER")
                            & (F.col("argument_index") == 0)) \
        .select(F.col("parent_id").alias("call_id"),
                F.col("name").alias("w_name"))
    # w's defining assignment: target (index 1) named w, RHS (index 2) a
    # getWriter call, same method
    getw = cpg.nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("full_name").rlike(
            r"^(javax\.servlet\.http\.)?HttpServletResponse\.getWriter")
    ).select(F.col("node_id").alias("rhs_id"),
             F.col("method_id").alias("m_id"))
    asn = cpg.nodes.filter(F.col("name").isin(ASSIGNMENT_OPS)).select(
        F.col("node_id").alias("asn_id"))
    w_def = (
        args.filter(F.col("argument_index") == 1)
        .join(asn, args["call_id"] == asn["asn_id"])
        .select("asn_id", F.col("a_name").alias("w_name"))
        .join(args.filter(F.col("argument_index") == 2)
              .select(F.col("call_id").alias("asn_id"),
                      F.col("arg_id").alias("rhs_id")), "asn_id")
        .join(getw, "rhs_id")
        .select("w_name", "m_id").distinct()
    )
    writer_println = println.join(recv, "call_id").join(
        w_def, ["m_id", "w_name"]).select("call_id").distinct()
    a1 = args.filter(F.col("argument_index") == 1) \
        .join(writer_println, "call_id") \
        .select("call_id", F.col("arg_id").alias("a1_id"))
    getp = cpg.nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("full_name").rlike(
            r"^(javax\.servlet\.http\.)?HttpServletRequest\.getParameter")
    ).select("node_id")
    flows = cpg.flow(sinks=a1.select(F.col("a1_id").alias("node_id")),
                         sources=getp)
    return a1.join(flows, a1["a1_id"] == flows["sink_id"]) \
        .select(F.col("call_id").alias("node_id")).distinct()


def _insecure_url_protocol(cpg: Cpg) -> DataFrame:
    """kotlin/NetworkProtocols.scala:13-29 usageOfInsecureProtocol: a URL
    constructor whose literal argument carries an http: (not https:) scheme;
    the reference's `^[^h]*http:.*` regex is kept verbatim (the [^h]* eats
    the literal's opening quote and cannot skip past https')."""
    url_init = cpg.nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("full_name").rlike(r"^(java\.net\.)?URL\.<init>")
    ).select(F.col("node_id").alias("call_id"))
    lits = _args(cpg).filter((F.col("a_kind") == "LITERAL")
                             & F.col("a_code").rlike("^[^h]*http:.*"))
    return url_init.join(lits.select("call_id"), "call_id") \
        .select(F.col("call_id").alias("node_id")).distinct()


def _fragment_injection(cpg: Cpg) -> DataFrame:
    """android/UnsafeReflection.scala:21-44 fragmentInjection: a
    build.gradle config file declaring targetSdk < 19 (below that level the
    platform performs no isValidFragment check; regex kept verbatim)."""
    cf = cpg.nodes.filter(
        (F.col("kind") == "CONFIG_FILE")
        & F.col("name").rlike(r".*build\.gradle$"))
    lines = cf.select("node_id",
                      F.explode(F.split(F.col("code"), "\n")).alias("ln"))
    v = lines.withColumn("v", F.regexp_extract(
        F.col("ln"), r"^[^t]+targetSdk[^0-9]+([0-9]+)", 1))
    return v.filter((F.col("v") != "") & (F.col("v").cast("int") < 19)) \
        .select("node_id").distinct()


def _malloc_memcpy_int_overflow(cpg: Cpg) -> DataFrame:
    """c/HeapBasedOverflow.scala:22-41 mallocMemcpyIntOverflow (the 31C3 /
    CVE-2014-9626 query): a malloc whose size is an arithmetic expression is
    assigned to a buffer that flows into memcpy's first argument, and the
    memcpy length expression differs textually from the malloc size.
    Finding marks the memcpy call (the reference filters memcpy callIn)."""
    args = _args(cpg)
    mall = (
        cpg.call("malloc$").to_df().select(F.col("node_id").alias("m_id"))
        .join(args.filter((F.col("argument_index") == 1)
                          & (F.col("a_kind") == "CALL")
                          & F.col("a_name").isin(ARITHMETIC_OPS))
              .select(F.col("call_id").alias("m_id"),
                      F.col("a_code").alias("m_size_code")), "m_id")
    )
    asn = cpg.nodes.filter(F.col("name").isin(ASSIGNMENT_OPS)).select(
        F.col("node_id").alias("call_id"))
    tgt = args.filter(F.col("argument_index") == 1).join(asn, "call_id") \
        .select(F.col("call_id").alias("asn_id"), F.col("arg_id").alias("t_id"),
                F.col("a_code").alias("t_code"))
    rhs = args.filter(F.col("argument_index") == 2).join(asn, "call_id") \
        .select(F.col("call_id").alias("asn_id"), F.col("arg_id").alias("m_id"))
    m_asn = mall.join(rhs, "m_id").join(tgt, "asn_id")
    mem = (
        args.filter(F.col("argument_index") == 1)
        .join(cpg.call("(?i)^memcpy$").ids()
              .withColumnRenamed("node_id", "call_id"), "call_id")
        .select(F.col("call_id").alias("mem_id"), F.col("arg_id").alias("a1_id"),
                F.col("a_code").alias("a1_code"))
        .join(args.filter(F.col("argument_index") == 3)
              .select(F.col("call_id").alias("mem_id"),
                      F.col("a_code").alias("a3_code")), "mem_id")
    )
    cand = mem.join(m_asn, (F.col("t_code") == F.col("a1_code"))
                    & (F.col("m_size_code") != F.col("a3_code"))) \
        .select("mem_id", "a1_id", "t_id").localCheckpoint(eager=True)
    # `inAssignment.target` is enforced structurally above; reachableBy src
    # becomes: the memcpy dst argument is reached backward from that target
    flows = cpg.flow(sinks=cand.select(F.col("a1_id").alias("node_id")).distinct(),
        sources=cand.select(F.col("t_id").alias("node_id")).distinct())
    hit = cand.join(flows, (flows["sink_id"] == cand["a1_id"])
                    & (flows["source_id"] == cand["t_id"]))
    return hit.select(F.col("mem_id").alias("node_id")).distinct()


def _strncpy_no_null_term(cpg: Cpg) -> DataFrame:
    """c/NullTermination.scala:18-49 strncpyNoNullTerm: the buffer passed to
    strncpy was malloc'd with EXACTLY the copy size (the reached malloc size
    argument's code equals strncpy's size argument's code), so strncpy
    cannot null-terminate, and no explicit `dst[..] = 0`-style termination
    exists in the method. Marks the strncpy dst argument (reference
    `map(_._2)`). The reference's `dst.*\\[` code-prefix match is read
    structurally: an assignment target that is an array access whose array
    operand's code equals the dst's code."""
    args = _args(cpg)
    sn = (
        cpg.call("(?i)^strncpy$").to_df()
        .select(F.col("node_id").alias("call_id"),
                F.col("method_id").alias("m_id"))
        .join(args.filter(F.col("argument_index") == 1)
              .select("call_id", F.col("arg_id").alias("dst_id"),
                      F.col("a_code").alias("dst_code")), "call_id")
        .join(args.filter(F.col("argument_index") == 3)
              .select("call_id", F.col("a_code").alias("size_code")),
              "call_id")
    )
    msize = (
        cpg.call("malloc$").to_df().select(F.col("node_id").alias("call_id"))
        .join(args.filter(F.col("argument_index") == 1)
              .select("call_id", F.col("arg_id").alias("src_id"),
                      F.col("a_code").alias("src_code")), "call_id")
        .select("src_id", "src_code")
    )
    flows = cpg.flow(sinks=sn.select(F.col("dst_id").alias("node_id")),
                         sources=msize.select(F.col("src_id").alias("node_id")))
    hit = (
        sn.join(flows, flows["sink_id"] == sn["dst_id"])
        .join(msize, flows["source_id"] == msize["src_id"])
        .filter(F.col("src_code") == F.col("size_code"))
        .select("m_id", "dst_id", "dst_code").distinct()
    )
    asn = cpg.nodes.filter(F.col("name").isin(ASSIGNMENT_OPS)).select(
        F.col("node_id").alias("call_id"), F.col("method_id").alias("m_id"))
    arr_targets = (
        args.filter((F.col("argument_index") == 1)
                    & F.col("a_name").isin(ARRAY_ACCESS_OPS))
        .select("call_id", F.col("arg_id").alias("acc_id"))
        .join(asn, "call_id")
        .join(args.filter((F.col("argument_index") == 2)
                          & (F.col("a_kind") == "LITERAL")
                          & F.col("a_code").contains("0"))
              .select("call_id"), "call_id")
        .join(args.filter(F.col("argument_index") == 1)
              .select(F.col("call_id").alias("acc_id"),
                      F.col("a_code").alias("arr_code")), "acc_id")
        .select("m_id", F.col("arr_code").alias("dst_code")).distinct()
    )
    return hit.join(arr_targets, ["m_id", "dst_code"], "left_anti") \
        .select(F.col("dst_id").alias("node_id")).distinct()


def _constant_array_access_no_check(cpg: Cpg) -> DataFrame:
    """c/MissingLengthCheck.scala:18-86 constantArrayAccessNoCheck: a
    constant-offset access into a non-local array (parameter/global) whose
    heuristic length fields (<arr>(s?)(_?)(len|siz)*, name-matched on
    parameters/locals) are never compared against a bound >= the offset.

    Two documented determinizations vs the reference: the offset must contain
    EXACTLY one integer literal (the reference takes the first in AST order —
    identical for every single-literal offset), and toInt accepts decimal
    digits only (Integer.decode also takes hex — none in scope)."""
    args = _args(cpg)
    nodes = cpg.nodes
    base_of = lambda c: F.regexp_replace(F.lower(c), "s$", "")  # noqa: E731

    acc = (
        nodes.filter(F.col("name").isin(ARRAY_ACCESS_OPS))
        .select(F.col("node_id").alias("acc_id"),
                F.col("method_id").alias("m_id"))
        .join(args.filter((F.col("argument_index") == 1)
                          & (F.col("a_kind") == "IDENTIFIER"))
              .select(F.col("call_id").alias("acc_id"),
                      F.col("a_name").alias("arr_name"),
                      F.col("a_code").alias("arr_code")), "acc_id")
        .join(args.filter(F.col("argument_index") == 2)
              .select(F.col("call_id").alias("acc_id"),
                      F.col("arg_id").alias("off_id")), "acc_id")
        .join(nodes.filter(F.col("kind") == "LOCAL")
              .select(F.col("method_id").alias("m_id"),
                      F.col("name").alias("arr_name")),
              ["m_id", "arr_name"], "left_anti")
    )

    # scope both ancestor walks to methods that actually contain a candidate
    # access: the walks are |starts| x tree-depth pairs, and at corpus scale
    # almost no method has a non-local constant-offset array access
    acc_methods = acc.select("m_id").distinct()
    lits = nodes.filter((F.col("kind") == "LITERAL")
                        & F.col("code").rlike("^[0-9]+$")) \
        .join(acc_methods, nodes["method_id"] == acc_methods["m_id"]) \
        .select("node_id", F.col("code").alias("lit_code"))
    lit_up = _ancestor_pairs(cpg.edges, "AST", lits.select("node_id"))
    lit_under = (
        lits.join(lit_up, lit_up["start_id"] == lits["node_id"])
        .select(F.col("anc_id").alias("root"), "lit_code")
        .unionByName(lits.select(F.col("node_id").alias("root"), "lit_code"))
    )
    one_lit = lit_under.groupBy("root").agg(
        F.count("*").alias("k"), F.min("lit_code").alias("lit_code")) \
        .filter(F.col("k") == 1) \
        .select(F.col("root").alias("off_id"),
                F.col("lit_code").cast("long").alias("idx"))
    cand = acc.join(one_lit, "off_id").withColumn("base", base_of(F.col("arr_name")))

    decls = nodes.filter(F.col("kind").isin("LOCAL", "METHOD_PARAMETER_IN")) \
        .select(F.col("method_id").alias("m_id"), F.col("name").alias("d_name"))
    lens = (
        cand.select("acc_id", "m_id", "base").join(decls, "m_id")
        .filter(F.expr("substring(lower(d_name), 1, length(base)) = base")
                & F.expr("substring(lower(d_name), length(base)+1, 1000000)")
                .rlike("^s?_?(len|siz)"))
        .select("acc_id", "d_name").distinct()
    )

    conds = (
        cpg.edges.filter(F.col("kind") == "CONDITION")
        .select(F.col("src").alias("cs_id"), F.col("dst").alias("c_id"))
        .join(nodes.filter(F.col("kind") == "CONTROL_STRUCTURE")
              .select(F.col("node_id").alias("cs_id"),
                      F.col("method_id").alias("m_id")), "cs_id")
        .join(nodes.select(F.col("node_id").alias("c_id"),
                           F.col("code").alias("c_code")), "c_id")
        .select("m_id", "c_id", "c_code")
    )
    idents = nodes.filter(F.col("kind") == "IDENTIFIER") \
        .join(acc_methods, nodes["method_id"] == acc_methods["m_id"]) \
        .select("node_id", F.col("name").alias("i_name"))
    id_up = _ancestor_pairs(cpg.edges, "AST", idents.select("node_id"))
    id_under = (
        idents.join(id_up, id_up["start_id"] == idents["node_id"])
        .select(F.col("anc_id").alias("c_id"), "i_name")
        .unionByName(idents.select(F.col("node_id").alias("c_id"), "i_name"))
    )
    chk = (
        lens.join(cand.select("acc_id", "m_id"), "acc_id")
        .join(conds.select("m_id", "c_id"), "m_id")
        .join(id_under, "c_id")
        .filter(F.col("i_name") == F.col("d_name"))
        .select("acc_id", "c_id").distinct()
    )
    bounds = (
        chk.join(lit_under.withColumnRenamed("root", "c_id"), "c_id")
        .select("acc_id", F.col("lit_code").cast("long").alias("bound"))
        .unionByName(
            cand.select("acc_id", "m_id", "arr_code")
            .join(conds, "m_id")
            .filter(F.col("c_code") == F.col("arr_code"))
            .select("acc_id", F.lit(0).cast("long").alias("bound")))
    )
    fired = (
        cand.join(lens.select("acc_id").distinct(), "acc_id")
        .join(bounds.join(cand.select("acc_id", "idx"), "acc_id")
              .filter(F.col("bound") >= F.col("idx"))
              .select("acc_id").distinct(),
              "acc_id", "left_anti")
    )
    return fired.select(F.col("acc_id").alias("node_id")).distinct()


def _call_to_strcpy_family_loose(cpg: Cpg) -> DataFrame:
    """ghidra/DangerousFunctions.scala:13-31 strcpyUsed: the binary pack's
    looser spelling — UNanchored case-insensitive method-name regex
    (``cpg.method("(?i)(strcpy|strncpy)").callIn``), vs the c pack's anchored
    ``^(strcpy|strncpy)$``; name-anchoring on the CALL node is equivalent
    (see module docstring)."""
    return cpg.call().name("(?i)(strcpy|strncpy)").ids()


def _getenv_to_strcpy(cpg: Cpg) -> DataFrame:
    """ghidra/UserInputIntoDangerousFunctions.scala:21-33 getenvToStrcpy:
    source = ``cpg.call.methodFullName("getenv").cfgNext.isCall.argument(2)``
    (the RHS slot of the assignment that the getenv call flows into — its CFG
    successor under operand-first ordering); sink = strcpy's source-buffer
    slot. The reference sinks on the external stub's ``parameter.index(2)``;
    we mark the call-site argument one interprocedural hop earlier — stub
    parameters carry no doc_id, and findings must resolve to a document."""
    args = _args(cpg)
    cfg = cpg.edges.filter(F.col("kind") == "CFG").select(
        F.col("src").alias("g_id"), F.col("dst").alias("nxt_id"))
    getenvs = cpg.call("^getenv$").ids().withColumnRenamed("node_id", "g_id")
    nxt_calls = cpg.nodes.filter(F.col("kind") == "CALL").select(
        F.col("node_id").alias("nxt_id"))
    sources = (
        getenvs.join(cfg, "g_id").join(nxt_calls, "nxt_id")
        .join(args.filter(F.col("argument_index") == 2)
              .select(F.col("call_id").alias("nxt_id"), "arg_id"), "nxt_id")
        .select(F.col("arg_id").alias("node_id")).distinct()
    )
    sinks = (
        cpg.call("^strcpy$").ids().withColumnRenamed("node_id", "call_id")
        .join(args.filter(F.col("argument_index") == 2), "call_id")
        .select(F.col("arg_id").alias("node_id")).distinct()
    )
    hits = cpg.flow(sinks, sources)
    return hits.select(F.col("sink_id").alias("node_id")).distinct()


def _php_request_sources(cpg: Cpg) -> DataFrame:
    """php pack shared source: arguments of assignments whose code mentions a
    PHP superglobal (php/SQLInjection.scala:31-33 — ``$_REQUEST["foo"]``
    et al. surface as identifiers/index accesses at the moment)."""
    asn = cpg.nodes.filter(F.col("name").isin(ASSIGNMENT_OPS)).select(
        F.col("node_id").alias("call_id"))
    return (
        _args(cpg).join(asn, "call_id")
        .filter(F.col("a_code").rlike(".*_(REQUEST|GET|POST).*"))
        .select(F.col("arg_id").alias("node_id")).distinct()
    )


def _php_sql_injection(cpg: Cpg) -> DataFrame:
    """php/SQLInjection.scala:15-38: a superglobal-tainted assignment operand
    reaching an argument of a ``query`` call that has a receiver."""
    recv = cpg.edges.filter(F.col("kind") == "RECEIVER").select(
        F.col("src").alias("call_id")).distinct()
    sinks = (
        cpg.call("^query$").ids().withColumnRenamed("node_id", "call_id")
        .join(recv, "call_id").join(_args(cpg), "call_id")
        .select(F.col("arg_id").alias("node_id")).distinct()
    )
    hits = cpg.flow(sinks, _php_request_sources(cpg))
    return hits.select(F.col("sink_id").alias("node_id")).distinct()


def _php_shell_exec(cpg: Cpg) -> DataFrame:
    """php/ShellExec.scala:15-38: the same superglobal source reaching any
    argument of a ``shell_exec`` call."""
    sinks = (
        cpg.call("^shell_exec$").ids().withColumnRenamed("node_id", "call_id")
        .join(_args(cpg), "call_id")
        .select(F.col("arg_id").alias("node_id")).distinct()
    )
    hits = cpg.flow(sinks, _php_request_sources(cpg))
    return hits.select(F.col("sink_id").alias("node_id")).distinct()


def _root_detection_file_checks(cpg: Cpg) -> DataFrame:
    """android/RootDetection.scala:16-33 rootDetectionViaFileChecks: a
    path literal ending in a superuser-artifact suffix reaching an
    ``exists()`` call (the reference sinks on argument(0), the receiver; the
    reaching-def pass models receiver use at the call node, so the call node
    is the equivalent sink), reported as the enclosing method, kept only
    when that method itself has a caller."""
    lits = cpg.nodes.filter(
        (F.col("kind") == "LITERAL") & F.col("code").contains("/")
    ).withColumn("bare", F.regexp_replace(F.col("code"), "[\"']+$", "")) \
        .filter(F.col("bare").rlike("(Superuser\\.apk|superuser\\.apk|/su)$")) \
        .select("node_id")
    ex_calls = cpg.call("^exists$").to_df().select(
        F.col("node_id").alias("call_id"), F.col("method_id").alias("m_id"))
    sinks = ex_calls.select(F.col("call_id").alias("node_id")).distinct()
    hits = cpg.flow(sinks, lits)
    hit_methods = (
        hits.select(F.col("sink_id").alias("call_id"))
        .join(ex_calls, "call_id")
        .select(F.col("m_id").alias("node_id")).distinct()
    )
    called = cpg.edges.filter(F.col("kind") == "CALL").select(
        F.col("dst").alias("node_id")).distinct()
    return hit_methods.join(called, "node_id")


def _manifest_backup_enabled(cpg: Cpg) -> DataFrame:
    """android/Misconfigurations.scala:13-90 manifestXmlBackupEnabled: an
    AndroidManifest.xml whose <application> element sets
    android:allowBackup="true". The reference parses the XML
    (SecureXmlParsing); this sandbox has no XML parser on the executor path,
    so the attribute scan is scoped to the <application ...> open tag by
    regex — equivalent on well-formed manifests."""
    cf = cpg.nodes.filter(
        (F.col("kind") == "CONFIG_FILE")
        & F.col("name").rlike(r".*AndroidManifest\.xml$"))
    app_attrs = F.regexp_extract(F.col("code"), r"(?s)<application\b([^>]*)>", 1)
    return cf.filter(app_attrs.rlike(r'android:allowBackup\s*=\s*"true"')) \
        .select("node_id")


def _tap_jacking(cpg: Cpg) -> DataFrame:
    """android/Misconfigurations.scala:92-178 tapJacking: a build.gradle
    declaring targetSdk below 23 (first SDK level that defaults
    filterTouchesWhenObscured protection; regex kept verbatim)."""
    cf = cpg.nodes.filter(
        (F.col("kind") == "CONFIG_FILE")
        & F.col("name").rlike(r".*build\.gradle$"))
    lines = cf.select("node_id",
                      F.explode(F.split(F.col("code"), "\n")).alias("ln"))
    v = lines.withColumn("v", F.regexp_extract(
        F.col("ln"), r"^[^t]+targetSdk[^0-9]+([0-9]+)", 1))
    return v.filter((F.col("v") != "") & (F.col("v").cast("int") < 23)) \
        .select("node_id").distinct()


def _vuln_prng_android(cpg: Cpg) -> DataFrame:
    """android/Misconfigurations.scala:180-227 vulnerablePRNGOnAndroidv16_18:
    a build.gradle declaring minSdk in [16, 18] when the corpus shows PRNG
    use — a default SecureRandom() constructor anywhere, or a ``".*PRNG.*"``
    literal reaching a ``SecureRandom.getInstance`` call. The reference's
    two-line range check drops its ``>= 16`` leg (an expression-statement
    slip at Misconfigurations.scala:209-211); we implement the intended
    closed range and note the deviation here. Finding = the config file."""
    cf = cpg.nodes.filter(
        (F.col("kind") == "CONFIG_FILE")
        & F.col("name").rlike(r".*build\.gradle$"))
    lines = cf.select("node_id",
                      F.explode(F.split(F.col("code"), "\n")).alias("ln"))
    v = lines.withColumn("v", F.regexp_extract(
        F.col("ln"), r"^[^t]+minSdk[^0-9]+([0-9]+)", 1))
    sats = v.filter((F.col("v") != "")
                    & (F.col("v").cast("int") >= 16)
                    & (F.col("v").cast("int") <= 18)) \
        .select("node_id").distinct()
    default_sr = cpg.nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("full_name").rlike(r"SecureRandom\.<init>")
    ).join(_args(cpg).select(F.col("call_id").alias("node_id")).distinct(),
           "node_id", "left_anti").select("node_id")
    prng_lits = cpg.nodes.filter(
        (F.col("kind") == "LITERAL") & F.col("code").rlike('".*PRNG.*"')
    ).select("node_id")
    gi_sinks = cpg.nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("code").rlike(r".*SecureRandom.getInstance.*")
    ).select("node_id")
    flows = cpg.flow(gi_sinks, prng_lits)
    evidence = default_sr.select(F.lit(1).alias("one")).unionByName(
        flows.select(F.lit(1).alias("one"))).limit(1)
    return sats.join(evidence, F.lit(True)).select("node_id")


def _manifest_exported_names(cpg: Cpg, tag: str) -> DataFrame:
    """(name) of manifest components declared ``<tag ... android:exported=
    "true">`` — the semanticcpg ``exportedAndroidActivityNames`` /
    ``exportedBroadcastReceiverNames`` analog (AndroidAppManifest.scala),
    regex-scoped to the element open tag (no executor-side XML parser;
    leading ``.`` of relative component names stripped like the reference's
    ``name.stripPrefix(pkg + ".")`` normalization)."""
    cf = cpg.nodes.filter(
        (F.col("kind") == "CONFIG_FILE")
        & F.col("name").rlike(r".*AndroidManifest\.xml$"))
    tags = cf.select(F.explode(F.regexp_extract_all(
        F.col("code"), F.lit(f"(?s)<{tag}\\b[^>]*>"), 0)).alias("el"))
    return (
        tags.filter(F.col("el").rlike('android:exported\\s*=\\s*"true"'))
        .select(F.regexp_replace(
            F.regexp_extract(F.col("el"), 'android:name\\s*=\\s*"([^"]+)"', 1),
            r"^\.", "").alias("cls_name"))
        .filter(F.col("cls_name") != "").distinct()
    )


def _type_decl_methods(cpg: Cpg) -> DataFrame:
    """(td_name, td_full, m_id): methods AST-owned by internal TYPE_DECLs."""
    tds = cpg.nodes.filter((F.col("kind") == "TYPE_DECL")
                           & ~F.col("is_external")).select(
        F.col("node_id").alias("td_id"), F.col("name").alias("td_name"),
        F.col("full_name").alias("td_full"))
    ast = cpg.edges.filter(F.col("kind") == "AST").select(
        F.col("src").alias("td_id"), F.col("dst").alias("m_id"))
    meths = cpg.nodes.filter(F.col("kind") == "METHOD").select(
        F.col("node_id").alias("m_id"))
    return tds.join(ast, "td_id").join(meths, "m_id")


def _intent_redirection(cpg: Cpg) -> DataFrame:
    """android/UnprotectedAppParts.scala:16-33 intentRedirection: an
    Intent-shaped ``getParcelableExtra`` result reaching an argument of a
    ``startActivity`` call that no control structure guards
    (``whereNot(_.controlledBy.astParent.isControlStructure)`` = no incoming
    CDG edge from a control structure or one of its condition children).
    Finding marks the getParcelableExtra call (the reference's return)."""
    gpe = cpg.call("^getParcelableExtra$").code(".*Intent.*").ids()
    sa = cpg.call("^startActivity$").ids().withColumnRenamed(
        "node_id", "call_id")
    cdg = cpg.edges.filter(F.col("kind") == "CDG").select(
        F.col("src").alias("ctl_id"), F.col("dst").alias("call_id"))
    cs = cpg.nodes.filter(F.col("kind") == "CONTROL_STRUCTURE").select(
        F.col("node_id").alias("cs_id"))
    ast_par = cpg.edges.filter(F.col("kind") == "AST").select(
        F.col("dst").alias("ctl_id"), F.col("src").alias("p_id"))
    controllers = cs.select(F.col("cs_id").alias("ctl_id")).unionByName(
        ast_par.join(cs, ast_par["p_id"] == cs["cs_id"]).select("ctl_id"))
    guarded = cdg.join(controllers, "ctl_id").select("call_id").distinct()
    sinks = (
        sa.join(guarded, "call_id", "left_anti")
        .join(_args(cpg), "call_id")
        .select(F.col("arg_id").alias("node_id")).distinct()
    )
    hits = cpg.flow(sinks, gpe)
    return hits.select(F.col("source_id").alias("node_id")).distinct()


def _unzip_directory_traversal(cpg: Cpg) -> DataFrame:
    """kotlin/PathTraversals.scala:16-41 unzipDirectoryTraversal: a
    ZipEntry/ArchiveEntry parameter that never flows into a
    ``startsWith`` path check, reaching a ``FileOutputStream`` constructor
    argument. Finding marks the constructor call."""
    zip_params = cpg.parameter().to_df().filter(
        F.col("type_full_name").rlike(r"(^|\.)(ArchiveEntry|ZipEntry)$")
    ).select("node_id")
    # the reference guards on argument(0) (the receiver); receiver use is
    # modeled at the call node, so sink the guard flow there
    sw_calls = cpg.call("^startsWith$").ids()
    checked = cpg.flow(sw_calls, zip_params) \
        .select(F.col("source_id").alias("node_id")).distinct()
    unchecked = zip_params.join(checked, "node_id", "left_anti")
    args = _args(cpg)
    fos_args = (
        cpg.nodes.filter(
            (F.col("kind") == "CALL")
            & F.col("full_name").rlike(r"(^|\.)FileOutputStream\.<init>"))
        .select(F.col("node_id").alias("call_id"))
        .join(args, "call_id")
        .select("call_id", F.col("arg_id").alias("node_id"))
    )
    hits = cpg.flow(fos_args.select("node_id").distinct(), unchecked)
    return (
        hits.select(F.col("sink_id").alias("node_id"))
        .join(fos_args, "node_id")
        .select(F.col("call_id").alias("node_id")).distinct()
    )


def _nop_trust_manager(cpg: Cpg) -> DataFrame:
    """kotlin/NetworkCommunication.scala:20-46 nopTrustManagerUsed: an
    internal X509TrustManager subtype whose checkClientTrusted or
    checkServerTrusted body is empty, allocated and flowing into the trust-
    manager slot (argument 2) of an ``SSLContext.init`` call. Finding marks
    the init call."""
    nodes = cpg.nodes
    inh = cpg.edges.filter(F.col("kind") == "INHERITS_FROM").select(
        F.col("src").alias("td_id"), F.col("dst").alias("sup_id"))
    sup = nodes.filter(
        F.col("kind").isin("TYPE", "TYPE_DECL")
        & F.col("full_name").rlike(r"(^|\.)X509TrustManager$")
    ).select(F.col("node_id").alias("sup_id"))
    tm_tds = (
        nodes.filter((F.col("kind") == "TYPE_DECL") & ~F.col("is_external"))
        .select(F.col("node_id").alias("td_id"),
                F.col("name").alias("td_name"),
                F.col("full_name").alias("td_full"))
        .join(inh, "td_id").join(sup, "sup_id")
        .select("td_id", "td_name", "td_full").distinct()
    )
    ast = cpg.edges.filter(F.col("kind") == "AST").select(
        F.col("src").alias("p_id"), F.col("dst").alias("c_id"))
    checks = nodes.filter(
        (F.col("kind") == "METHOD")
        & F.col("name").isin("checkClientTrusted", "checkServerTrusted")
    ).select(F.col("node_id").alias("m_id"))
    blocks = nodes.filter(F.col("kind") == "BLOCK").select(
        F.col("node_id").alias("b_id"), F.col("method_id").alias("m_id"))
    nonempty = ast.join(blocks, ast["p_id"] == blocks["b_id"]) \
        .select("b_id").distinct()
    empty_check_methods = (
        checks.join(blocks, "m_id")
        .join(nonempty, "b_id", "left_anti")
        .select("m_id").distinct()
    )
    nop_tds = (
        tm_tds.join(ast, tm_tds["td_id"] == ast["p_id"])
        .join(empty_check_methods, ast["c_id"] == empty_check_methods["m_id"])
        .select("td_name", "td_full").distinct()
    )
    allocs = nodes.filter(
        (F.col("kind") == "CALL") & F.col("full_name").rlike(r"\.<init>$")
    ).join(nop_tds, (F.col("type_full_name") == F.col("td_name"))
           | (F.col("type_full_name") == F.col("td_full"))) \
        .select("node_id")
    args = _args(cpg)
    init_args = (
        nodes.filter((F.col("kind") == "CALL")
                     & F.col("full_name").rlike(r"(^|\.)SSLContext\.init$"))
        .select(F.col("node_id").alias("call_id"))
        .join(args.filter(F.col("argument_index") == 2), "call_id")
        .select("call_id", F.col("arg_id").alias("node_id"))
    )
    hits = cpg.flow(init_args.select("node_id").distinct(), allocs)
    return (
        hits.select(F.col("sink_id").alias("node_id"))
        .join(init_args, "node_id")
        .select(F.col("call_id").alias("node_id")).distinct()
    )


def _broadcast_to_file_write(cpg: Cpg) -> DataFrame:
    """android/ArbitraryFileWrites.scala:18-37 broadcastToFileWrite: the
    intent parameter (index 2) of a manifest-exported broadcast receiver's
    ``onReceive`` reaching a ``FileOutputStream.write`` argument. The
    reference checks the write's argument is a FileOutputStream-typed
    identifier; the mini-frontends resolve that declared type into the
    call's full name, so the receiver-typed full-name match is equivalent."""
    exported = _manifest_exported_names(cpg, "receiver")
    td_m = _type_decl_methods(cpg)
    on_receive = cpg.nodes.filter(
        (F.col("kind") == "METHOD") & (F.col("name") == "onReceive")
    ).select(F.col("node_id").alias("m_id"))
    exposed_m = (
        td_m.join(F.broadcast(exported),
                  td_m["td_name"] == exported["cls_name"])
        .join(on_receive, "m_id").select("m_id")
    )
    sources = (
        cpg.parameter().order(2).to_df()
        .join(exposed_m, F.col("method_id") == exposed_m["m_id"])
        .select("node_id").distinct()
    )
    args = _args(cpg)
    write_args = (
        cpg.nodes.filter(
            (F.col("kind") == "CALL")
            & F.col("full_name").rlike(r"(^|\.)FileOutputStream\.write$"))
        .select(F.col("node_id").alias("call_id"))
        .join(args, "call_id")
        .select("call_id", F.col("arg_id").alias("node_id"))
    )
    hits = cpg.flow(write_args.select("node_id").distinct(), sources)
    return (
        hits.select(F.col("sink_id").alias("node_id"))
        .join(write_args, "node_id")
        .select(F.col("call_id").alias("node_id")).distinct()
    )


def _intent_to_runtime_exec(cpg: Cpg) -> DataFrame:
    """android/Intents.scala:16-34 intentToRuntimeExec: a ``getIntent``
    result inside a manifest-exported activity reaching a ``Runtime.exec``
    argument. Finding marks the exec call."""
    exported = _manifest_exported_names(cpg, "activity")
    td_m = _type_decl_methods(cpg)
    exp_methods = td_m.join(
        F.broadcast(exported), td_m["td_name"] == exported["cls_name"]
    ).select("m_id")
    sources = (
        cpg.call("^getIntent$").to_df()
        .join(exp_methods, F.col("method_id") == exp_methods["m_id"])
        .select("node_id").distinct()
    )
    args = _args(cpg)
    exec_args = (
        cpg.nodes.filter(
            (F.col("kind") == "CALL")
            & F.col("full_name").rlike(r"^(java\.lang\.)?Runtime\.exec$"))
        .select(F.col("node_id").alias("call_id"))
        .join(args, "call_id")
        .select("call_id", F.col("arg_id").alias("node_id"))
    )
    hits = cpg.flow(exec_args.select("node_id").distinct(), sources)
    return (
        hits.select(F.col("sink_id").alias("node_id"))
        .join(exec_args, "node_id")
        .select(F.col("call_id").alias("node_id")).distinct()
    )


def _external_storage_to_dex(cpg: Cpg) -> DataFrame:
    """android/ExternalStorage.scala:17-47 externalStorageToDexClassLoader:
    with READ_EXTERNAL_STORAGE granted in the manifest, an external-storage
    directory read flowing into a DexClassLoader constructor, whose loader's
    ``loadClass`` result reaches a reflective ``Method.invoke`` argument.
    Finding marks the invoke call."""
    perm = cpg.nodes.filter(
        (F.col("kind") == "CONFIG_FILE")
        & F.col("name").rlike(r".*AndroidManifest\.xml$")
        & F.col("code").contains("android.permission.READ_EXTERNAL_STORAGE")
    ).select(F.lit(1).alias("one")).limit(1)
    ext = cpg.call("^getExternalStorage(Public)?Director(y|ies)$").ids() \
        .join(perm, F.lit(True)).select("node_id")
    args = _args(cpg)
    dex_arg1 = (
        cpg.nodes.filter(
            (F.col("kind") == "CALL")
            & F.col("full_name").rlike(r"(^|\.)DexClassLoader\.<init>"))
        .select(F.col("node_id").alias("call_id"))
        .join(args.filter(F.col("argument_index") == 1), "call_id")
        .select("call_id", F.col("arg_id").alias("node_id"))
    )
    ext_hits = cpg.flow(dex_arg1.select("node_id").distinct(), ext)
    tainted_inits = (
        ext_hits.select(F.col("sink_id").alias("node_id"))
        .join(dex_arg1, "node_id")
        .select(F.col("call_id").alias("node_id")).distinct()
    )
    # loader identity flows through the loadClass receiver; receiver use is
    # modeled at the call node, so the loadClass call is the sink AND the
    # next stage's source
    lc_calls = cpg.call("^loadClass$").ids()
    lc_hits = cpg.flow(lc_calls, tainted_inits)
    tainted_loads = lc_hits.select(F.col("sink_id").alias("node_id")).distinct()
    inv_arg1 = (
        cpg.nodes.filter(
            (F.col("kind") == "CALL")
            & F.col("full_name").rlike(r"(^|\.)Method\.invoke$"))
        .select(F.col("node_id").alias("call_id"))
        .join(args.filter(F.col("argument_index") == 1), "call_id")
        .select("call_id", F.col("arg_id").alias("node_id"))
    )
    inv_hits = cpg.flow(inv_arg1.select("node_id").distinct(),
                            tainted_loads)
    return (
        inv_hits.select(F.col("sink_id").alias("node_id"))
        .join(inv_arg1, "node_id")
        .select(F.col("call_id").alias("node_id")).distinct()
    )


def _insecure_load_url_to_exec(cpg: Cpg) -> DataFrame:
    """android/JavaScriptInterface.scala:18-50 insecureLoadUrlToExec: with
    cleartext traffic allowed in the manifest, a WebView method that enables
    JS and loads an ``http:`` URL exposes its ``addJavascriptInterface``
    object; parameters of that object's @JavascriptInterface methods
    reaching a ``Runtime.exec`` argument fire. Finding marks the exec call.
    WebView identity is scoped per enclosing method (the reference chains
    receiver steps through ``cpg.webView``; the mini-frontends' one-webview-
    per-method fixtures make method scoping equivalent)."""
    nodes = cpg.nodes
    cleartext = nodes.filter(
        (F.col("kind") == "CONFIG_FILE")
        & F.col("name").rlike(r".*AndroidManifest\.xml$")
        & F.col("code").rlike('android:usesCleartextTraffic\\s*=\\s*"true"')
    ).select(F.lit(1).alias("one")).limit(1)
    args = _args(cpg)
    js_on = (
        cpg.call("^setJavaScriptEnabled$").to_df()
        .select(F.col("node_id").alias("call_id"),
                F.col("method_id").alias("m_id"))
        .join(args.filter((F.col("a_kind") == "LITERAL")
                          & (F.col("a_code").isin("true", "1"))), "call_id")
        .select("m_id").distinct()
    )
    http_lits = nodes.filter(
        (F.col("kind") == "LITERAL")
        & F.regexp_replace(F.col("code"), "^[\"']", "").startswith("http:")
    ).select("node_id")
    lu_args = (
        cpg.call("^loadUrl$").to_df()
        .select(F.col("node_id").alias("call_id"),
                F.col("method_id").alias("m_id"))
        .join(args, "call_id")
        .select("m_id", F.col("arg_id").alias("node_id"))
    )
    lu_hits = cpg.flow(lu_args.select("node_id").distinct(), http_lits)
    insecure_m = (
        lu_hits.select(F.col("sink_id").alias("node_id"))
        .join(lu_args, "node_id").join(js_on, "m_id")
        .select("m_id").distinct()
    )
    aji_obj = (
        cpg.call("^addJavascriptInterface$").to_df()
        .select(F.col("node_id").alias("call_id"),
                F.col("method_id").alias("m_id"))
        .join(insecure_m, "m_id")
        .join(args.filter(F.col("argument_index") == 1), "call_id")
        .select(F.col("arg_id").alias("obj_id"))
    )
    # the interface object's type: declared type of the identifier argument
    decl = _decl_types(cpg)
    obj_nodes = nodes.filter(F.col("kind") == "IDENTIFIER").select(
        F.col("node_id").alias("obj_id"), F.col("name").alias("o_name"),
        F.col("method_id").alias("o_mid"))
    if_types = (
        aji_obj.join(obj_nodes, "obj_id")
        .join(decl, (F.col("o_mid") == decl["method_id"])
              & (F.col("o_name") == decl["name"]))
        .select(F.col("decl_type").alias("td_name")).distinct()
    )
    td_m = _type_decl_methods(cpg)
    anno = nodes.filter(
        (F.col("kind") == "ANNOTATION")
        & F.col("name").rlike(r"(^|\.)JavascriptInterface$")
    ).select(F.col("method_id").alias("m_id")).distinct()
    exposed_m = (
        td_m.join(if_types, td_m["td_name"] == if_types["td_name"])
        .join(anno, "m_id").select("m_id")
    )
    sources = (
        cpg.parameter().to_df()
        .join(exposed_m, F.col("method_id") == exposed_m["m_id"])
        .select("node_id").distinct()
    )
    exec_args = (
        nodes.filter(
            (F.col("kind") == "CALL")
            & F.col("full_name").rlike(r"^(java\.lang\.)?Runtime\.exec$"))
        .select(F.col("node_id").alias("call_id"))
        .join(args, "call_id")
        .select("call_id", F.col("arg_id").alias("node_id"))
    )
    hits = cpg.flow(exec_args.select("node_id").distinct(), sources)
    return (
        hits.select(F.col("sink_id").alias("node_id"))
        .join(exec_args, "node_id")
        .join(cleartext, F.lit(True))
        .select(F.col("call_id").alias("node_id")).distinct()
    )


DEFAULT_BUNDLE = [
    Query("malloc-without-free", "Allocation without matching free in method", 5.0,
          _malloc_to_free_missing),
    Query("literal-to-format-sink", "Literal flows into format-string sink", 4.0,
          _literal_argument_to_risky_sink),
    Query("uncalled-internal-method", "Internal method never called", 2.0,
          _uncalled_internal_method),
    Query("deeply-nested-control", "Control structures nested >= 3 deep", 1.0,
          _deep_nesting),
    # querydb/c/DangerousFunctions.scala (scores from the reference)
    Query("call-to-gets", "Dangerous function gets() used", 8.0,
          _call_to("(?i)^gets$")),
    Query("call-to-scanf", "Insecure function scanf() used", 4.0,
          _call_to("(?i)^scanf$")),
    Query("call-to-strcat", "Dangerous functions strcat/strncat used", 4.0,
          _call_to("(?i)^(strcat|strncat)$")),
    Query("call-to-strcpy", "Dangerous functions strcpy/strncpy used", 4.0,
          _call_to("(?i)^(strcpy|strncpy)$")),
    Query("call-to-strtok", "Dangerous function strtok() used", 4.0,
          _call_to("(?i)^strtok$")),
    Query("call-to-getwd", "Dangerous function getwd() used", 4.0,
          _call_to("(?i)^getwd$")),
    Query("format-controlled-printf",
          "Non-constant format string passed to printf/sprintf/vsprintf", 4.0,
          _format_controlled_printf),
    # querydb/c/SignedLeftShift.scala
    Query("signed-left-shift", "Signed shift may cause undefined behavior", 2.0,
          _signed_left_shift),
    # querydb/c/IntegerTruncations.scala
    Query("strlen-truncation", "Truncation in strlen-to-int assignment", 2.0,
          _strlen_truncation),
    # querydb/c/CredentialDrop.scala
    Query("setuid-without-setgid",
          "Process user ID changed without dropping group privileges first", 2.0,
          _setuid_without_setgid),
    Query("setgid-without-setgroups",
          "Group ID changed without dropping ancillary groups first", 2.0,
          _setgid_without_setgroups),
    # querydb/c/CopyLoops.scala
    Query("copy-loop", "Copy loop detected", 2.0, _copy_loop),
    # querydb/java/SQLInjection.scala
    Query("sql-injection",
          "A parameter is used in an insecure database API call", 5.0,
          _sql_injection),
    # querydb/c/UseAfterFree.scala (freePostDominatesUsage)
    Query("free-follows-value-reuse",
          "A value that is free'd is reused without reassignment", 5.0,
          _free_follows_value_reuse),
    # querydb/c/UseAfterFree.scala (freeFieldNoReassign, score 5)
    Query("free-field-no-reassign",
          "A field of a parameter is free'd and not reassigned on all paths",
          5.0, _free_field_no_reassign),
    # querydb/c/UseAfterFree.scala (freeReturnedValue, score 5)
    Query("free-returned-value",
          "A value that is returned through a parameter is free'd in a path",
          5.0, _free_returned_value),
    # querydb/c/RetvalChecks.scala
    Query("unchecked-read-recv-malloc",
          "Return value of read/recv/malloc is never checked", 3.0,
          _unchecked_read_recv_malloc),
    # querydb/c/SocketApi.scala
    Query("socket-send", "Unchecked call to send", 2.0, _socket_send),
    # querydb/c/FileOpRace.scala
    Query("file-operation-race",
          "Two file operations on the same path can act on different files",
          3.0, _file_operation_race),
    # querydb/java/DangerousFunctions.scala
    Query("call-to-exec", "Dangerous function Runtime.exec used", 8.0,
          _call_to_exec),
    # querydb/c/Metrics.scala (reference defaults: 4 params, 4 control
    # structures, 1000 lines, 1 return, 4 loops, nesting 3; score 1.0 each)
    Query("too-many-params", "Number of parameters larger than 4", 1.0,
          _too_many_params),
    Query("too-high-complexity", "Cyclomatic complexity higher than 4", 1.0,
          _too_high_complexity),
    Query("too-long", "More than 1000 lines", 1.0, _too_long),
    Query("multiple-returns", "Multiple returns", 1.0, _multiple_returns),
    Query("too-many-loops", "More than 4 loops", 1.0, _too_many_loops),
    Query("too-nested", "Nesting level higher than 3", 1.0, _too_nested),
    # querydb/c/NullTermination.scala (score 4)
    Query("strncpy-no-null-term",
          "strncpy is used and no null termination is nearby", 4.0,
          _strncpy_no_null_term),
    # querydb/c/MissingLengthCheck.scala (score 3)
    Query("constant-array-access-no-check",
          "Array access at fixed offset but sufficient length check not "
          "determined", 3.0, _constant_array_access_no_check),
    # querydb/c/HeapBasedOverflow.scala (score 4)
    Query("malloc-memcpy-int-overflow",
          "Dangerous copy-operation into heap-allocated buffer", 4.0,
          _malloc_memcpy_int_overflow),
    # querydb/java/CryptographyMisuse.scala (score 6 each)
    Query("unsafe-crypto-hash-algo", "Unsafe cryptographic hash algorithm used",
          6.0, _unsafe_hash_algo),
    Query("low-pbe-key-iterations",
          "Low number of iterations detected for password-based encryption",
          6.0, _low_iteration_pbe_key),
    # querydb/java/CertificateChecks.scala (score 6)
    Query("ineffective-certificate-check",
          "Ineffective Certificate Validation: The validation result is "
          "always positive", 6.0, _ineffective_certificate_check),
    # querydb/java/CrossSiteScripting.scala (score 8)
    Query("xss-servlet",
          "Reflected Cross-Site Scripting: Servlet Returns HTTP Input in "
          "Response", 8.0, _xss_servlet),
    # querydb/kotlin/NetworkProtocols.scala (score 4)
    Query("usage-of-insecure-protocol", "Insecure Protocol used", 4.0,
          _insecure_url_protocol),
    # querydb/android/UnsafeReflection.scala (score 7)
    Query("fragment-injection",
          "Attackers can load fragments that should be private", 7.0,
          _fragment_injection),
    # querydb/ghidra/DangerousFunctions.scala (score 4)
    Query("call-to-strcpy-ghidra",
          "Dangerous functions `strcpy` or `strncpy` used", 4.0,
          _call_to_strcpy_family_loose),
    # querydb/ghidra/UserInputIntoDangerousFunctions.scala (score 4)
    Query("getenv-to-strcpy",
          "`getenv` fn arguments used in strcpy source buffer", 4.0,
          _getenv_to_strcpy),
    # querydb/php/SQLInjection.scala (score 5)
    Query("php-sql-injection",
          "SQL injection: A parameter is used in an insecure database API "
          "call.", 5.0, _php_sql_injection),
    # querydb/php/ShellExec.scala (score 5)
    Query("shell-exec",
          "Shell exec: A parameter is used in an insecure `shell-exec` call.",
          5.0, _php_shell_exec),
    # querydb/android/RootDetection.scala (score 3)
    Query("root-detection-via-file-checks",
          "App attempts to detect rooting via file checks", 3.0,
          _root_detection_file_checks),
    # querydb/android/Misconfigurations.scala (scores 3 / 6 / 6)
    Query("manifest-backup-enabled",
          "Backup enabled in Android Manifest File", 3.0,
          _manifest_backup_enabled),
    Query("tap-jacking", "Tap Jacking", 6.0, _tap_jacking),
    Query("vuln-prng-android-v16_18",
          "Vulnerable PRNG on Android API level [16, 18]", 6.0,
          _vuln_prng_android),
    # querydb/android/UnprotectedAppParts.scala (score 4)
    Query("intent-redirection", "Intent redirected without validation", 4.0,
          _intent_redirection),
    # querydb/kotlin/PathTraversals.scala (score 4)
    Query("unzip-directory-traversal",
          "Zip entries not checked before unzipping", 4.0,
          _unzip_directory_traversal),
    # querydb/kotlin/NetworkCommunication.scala (score 5)
    Query("usage-of-nop-trust-manager",
          "NOP trust manager used to initialize SSL context", 5.0,
          _nop_trust_manager),
    # querydb/android/ArbitraryFileWrites.scala (score 6)
    Query("broadcast-to-file-write",
          "Broadcast receiver data written to file without validation", 6.0,
          _broadcast_to_file_write),
    # querydb/android/Intents.scala (score 9)
    Query("intent-to-runtime-exec",
          "Exported activity intent data reaches Runtime.exec", 9.0,
          _intent_to_runtime_exec),
    # querydb/android/ExternalStorage.scala (score 9)
    Query("external-storage-to-dex-classloader",
          "Code loaded from external storage is reflectively invoked", 9.0,
          _external_storage_to_dex),
    # querydb/android/JavaScriptInterface.scala (score 9)
    Query("insecure-load-url-to-exec",
          "JavaScript bridge on a cleartext WebView reaches Runtime.exec",
          9.0, _insecure_load_url_to_exec),
]


# query name → reference querydb pack (querydb/src/main/scala/io/joern/
# scanners/<pack>/...); drives the per-pack CI gate (test_export_scan.py)
# and run_scan(packs=...) filtering (the joern-scan `--tags`/bundle-select
# analog)
QUERY_PACKS = {
    "malloc-without-free": "core", "literal-to-format-sink": "core",
    "uncalled-internal-method": "core", "deeply-nested-control": "core",
    "call-to-gets": "c", "call-to-scanf": "c", "call-to-strcat": "c",
    "call-to-strcpy": "c", "call-to-strtok": "c", "call-to-getwd": "c",
    "format-controlled-printf": "c", "signed-left-shift": "c",
    "strlen-truncation": "c", "setuid-without-setgid": "c",
    "setgid-without-setgroups": "c", "copy-loop": "c",
    "free-follows-value-reuse": "c", "free-field-no-reassign": "c",
    "free-returned-value": "c", "unchecked-read-recv-malloc": "c",
    "socket-send": "c", "file-operation-race": "c", "too-many-params": "c",
    "too-high-complexity": "c", "too-long": "c", "multiple-returns": "c",
    "too-many-loops": "c", "too-nested": "c", "strncpy-no-null-term": "c",
    "constant-array-access-no-check": "c", "malloc-memcpy-int-overflow": "c",
    "sql-injection": "java", "call-to-exec": "java",
    "unsafe-crypto-hash-algo": "java", "low-pbe-key-iterations": "java",
    "ineffective-certificate-check": "java", "xss-servlet": "java",
    "usage-of-insecure-protocol": "kotlin",
    "unzip-directory-traversal": "kotlin",
    "usage-of-nop-trust-manager": "kotlin",
    "fragment-injection": "android", "root-detection-via-file-checks": "android",
    "manifest-backup-enabled": "android", "tap-jacking": "android",
    "vuln-prng-android-v16_18": "android", "intent-redirection": "android",
    "broadcast-to-file-write": "android",
    "intent-to-runtime-exec": "android",
    "external-storage-to-dex-classloader": "android",
    "insecure-load-url-to-exec": "android",
    "call-to-strcpy-ghidra": "ghidra", "getenv-to-strcpy": "ghidra",
    "php-sql-injection": "php", "shell-exec": "php",
}


def run_scan(nodes: DataFrame, edges: DataFrame,
             bundle: list[Query] | None = None,
             packs: list[str] | None = None) -> DataFrame:
    """→ findings(name, title, severity, node_id, doc_id, code).

    ``packs`` restricts the default bundle to the named reference querydb
    packs (e.g. ``["c", "android"]`` — the joern-scan bundle-select
    analog); ignored when an explicit ``bundle`` is passed."""
    cpg = Cpg(nodes=nodes, edges=edges)
    spark = nodes.sparkSession
    queries = bundle or DEFAULT_BUNDLE
    if bundle is None and packs is not None:
        queries = [q for q in DEFAULT_BUNDLE if QUERY_PACKS[q.name] in packs]
    if not queries:  # packs filtered everything out
        return spark.createDataFrame(
            [], schema="name string, title string, severity double, "
                       "node_id long, doc_id string, code string")
    # every query's matches tagged by its bundle position, one distinct and
    # ONE meta join; title and severity come from a broadcast of the bundle
    hits = None
    for i, q in enumerate(queries):
        ids = q.run(cpg).select(F.lit(i).alias("q"), "node_id")
        hits = ids if hits is None else hits.unionByName(ids)
    info = spark.createDataFrame(
        [(i, q.name, q.title, float(q.severity)) for i, q in enumerate(queries)],
        schema="q int, name string, title string, severity double")
    meta = nodes.select("node_id", "doc_id", "code")
    return (
        hits.distinct().join(meta, "node_id").join(F.broadcast(info), "q")
        .select("name", "title", "severity", "node_id", "doc_id", "code")
    )
