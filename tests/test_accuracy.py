"""Dataflow accuracy micro-suite (Securibench-Micro analog).

The reference's only published quantitative baselines are TP/FP tables over
seeded taint benchmarks (``benchmarks/README.md:11-27``: Securibench Micro
78.72% total accuracy for javasrc2cpg — the engine is intentionally
path-insensitive and semantics-default, so sanitizers and dead branches are
known FPs). This suite seeds the same categories at micro scale:

- ``TRUTH``  — ground-truth labels (does tainted data actually reach the sink);
- ``PREDICTED`` — the locked expected engine verdicts (regression gate: any
  drift in the dataflow engine flips a row and fails the suite);
- aggregate accuracy vs TRUTH is asserted ≥ the reference's published bar.

Flows are judged with the realizable-paths flows API (reachable_by_flows),
the same surface the reference's benchmark harness drives.
"""

import pyspark.sql.functions as F
import pytest

from joern_spark.dataflow import reachable_by_flows

# case name -> (category, code, source literal, truth, predicted)
# categories mirror the reference's Securibench Micro table
# (benchmarks/README.md:11-27); all 12 are seeded.
CASES = {
    "basic_direct": ("Basic",
        "void c1() { int a = 1001; sink1(a); }", "1001", True, True),
    "basic_unrelated": ("Basic",
        "void c3() { int a = 1003; int b = 7; sink3(b); }", "1003", False, False),
    "binop_propagation": ("Basic",
        "void c4() { int a = 1004; int b = a + 1; sink4(b); }", "1004", True, True),
    "loop_carry": ("Basic",
        "void c10() { int a10 = 1010; int s10 = 0;"
        " while (a10 > 0) { s10 = s10 + a10; a10--; } sink10(s10); }",
        "1010", True, True),
    "interproc_param": ("Inter-procedural",
        "void h5(int x5) { sink5(x5); }\nvoid c5() { h5(1005); }",
        "1005", True, True),
    "interproc_return": ("Inter-procedural",
        "int h6() { return 1006; }\nvoid c6() { int a6 = h6(); sink6(a6); }",
        "1006", True, True),
    # argument-index precision: literal flows into x12 only, sink reads y12
    "wrong_arg_index": ("Inter-procedural",
        "void h12(int x12, int y12) { sink12(y12); }\n"
        "void c12() { h12(1012, 2); }",
        "1012", False, False),
    # realizable paths: caller_a's literal must not exit id13 into caller_b
    "two_caller_realizable": ("Inter-procedural",
        "int id13(int x13) { return x13; }\n"
        "void ca13() { int a13 = id13(1013); other13(a13); }\n"
        "void cb13() { int b13 = id13(2); sink13(b13); }",
        "1013", False, False),
    # sanitizer: default semantics taint through unknown calls — known FP,
    # mirroring the reference's Securibench 'Sanitizers' FP rows
    "sanitizer_call": ("Sanitizers",
        "void c8() { int a8 = 1008; a8 = sanitize8(a8); sink8(a8); }",
        "1008", False, True),
    # interprocedural sanitizer: internal callee returns a constant; engine
    # taints arg→return through it (semantics-default) — known FP
    "interproc_sanitizer": ("Sanitizers",
        "int clean12(int x12b) { return 0; }\n"
        "void a12() { int a12v = 1112; a12v = clean12(a12v); sink112(a12v); }",
        "1112", False, True),
    # reassignment from an untainted call kills the taint — TN
    "sanitizer_constant": ("Sanitizers",
        "void a14() { int a14v = 1114; a14v = safe_const(); sink114(a14v); }",
        "1114", False, False),
    "branch_join": ("Predicates",
        "void c9() { int a9 = 1009; int b9 = 0;"
        " if (a9 > 0) { b9 = a9; } else { b9 = 0; } sink9(b9); }",
        "1009", True, True),
    # dead branch: path-insensitive engine taints through `if (0)` — known FP
    "dead_branch": ("Predicates",
        "void c11() { int a11 = 1011; int b11 = 0;"
        " if (0) { b11 = a11; } sink11(b11); }",
        "1011", False, True),
    "alias_copy": ("Aliasing",
        "void a1() { int p1 = 1101; int q1 = p1; sink101(q1); }",
        "1101", True, True),
    "alias_pointer": ("Aliasing",
        "void a2() { int p2 = 1102; int *q2 = &p2; sink102(*q2); }",
        "1102", True, True),
    "array_same_index": ("Arrays",
        "void a3() { int r3[4]; r3[0] = 1103; sink103(r3[0]); }",
        "1103", True, True),
    # base-smashed array defs: the overwrite of r4 kills the taint — TN
    "array_other_index": ("Arrays",
        "void a4() { int r4[4]; r4[0] = 1104; r4[1] = 0; sink104(r4[1]); }",
        "1104", False, False),
    # container carry through unknown put/get (semantics-default arg taint)
    "collection_carry": ("Collections",
        "void a5(int *c5) { put105(c5, 1105); int v5 = get105(c5);"
        " sink105(v5); }",
        "1105", True, True),
    "collection_unrelated": ("Collections",
        "void a6(int *c6a, int *c6b) { put106(c6a, 1106);"
        " int v6 = get106(c6b); sink106(v6); }",
        "1106", False, False),
    "struct_field_carry": ("Data Structures",
        "void a7(struct S7 *s7) { s7->f = 1107; sink107(s7->f); }",
        "1107", True, True),
    # field-sensitive: taint in ->f never reaches the ->g read — TN
    "struct_other_field": ("Data Structures",
        "void a8(struct S8 *s8) { s8->f = 1108; sink108(s8->g); }",
        "1108", False, False),
    "factory_fresh": ("Factories",
        "int make9() { return 1109; }\n"
        "void a9() { int o9 = make9(); sink109(o9); }",
        "1109", True, True),
    # call through a function pointer: the method-ref hint rule
    # (fp = someFunc; fp(...) → CALL edge to someFunc, XTypeRecovery's
    # identifier-assigned-METHOD_REF feeding XTypeHintCallLinker) resolves
    # the indirect call — TP here where the reference's Reflection row
    # posts an FN (its c2cpg leaves fn-ptr calls unlinked)
    "fnptr_call": ("Reflection",
        "void s10fn(int v10) { sink110(v10); }\n"
        "void a10() { void (*fp10)(int) = s10fn; fp10(1110); }",
        "1110", True, True),
    # cross-function flow through a global: per-method reaching defs never
    # connect set13's write to a13's read — known FN (Session analog)
    "session_global": ("Session",
        "int g13;\nvoid set13() { g13 = 1113; }\nvoid a13() { sink113(g13); }",
        "1113", True, False),
    "basic_overwrite": ("Strong Updates",
        "void c2() { int a = 1002; a = 0; sink2(a); }", "1002", False, False),
    "strong_update_field": ("Strong Updates",
        "void a11(struct S11 *s11) { s11->f = 1111; s11->f = 0;"
        " sink111(s11->f); }",
        "1111", False, False),
    # ---- bytecode twins (jimple-mini) -------------------------------------
    # The reference's benchmark tables run every suite twice — source AND
    # bytecode (benchmarks/README.md:28-45, jimple2cpg rows). These re-seed
    # the load-bearing categories through the 3-address frontend: identity-
    # statement parameters, exact staticinvoke linking, if-goto joins.
    "jbc_basic_direct": ("Basic",
        "public class JA1 extends java.lang.Object {\n"
        "  public static void jc1() {\n"
        "    int a0;\n    a0 = 2001;\n"
        "    staticinvoke <JSink: void sink201(int)>(a0);\n    return;\n"
        "  }\n}", "2001", True, True),
    "jbc_basic_unrelated": ("Basic",
        "public class JA2 extends java.lang.Object {\n"
        "  public static void jc2() {\n"
        "    int a0, b0;\n    a0 = 2002;\n    b0 = 7;\n"
        "    staticinvoke <JSink: void sink202(int)>(b0);\n    return;\n"
        "  }\n}", "2002", False, False),
    "jbc_binop": ("Basic",
        "public class JA3 extends java.lang.Object {\n"
        "  public static void jc3() {\n"
        "    int a0, b0;\n    a0 = 2003;\n    b0 = a0 + 1;\n"
        "    staticinvoke <JSink: void sink203(int)>(b0);\n    return;\n"
        "  }\n}", "2003", True, True),
    "jbc_overwrite": ("Strong Updates",
        "public class JA4 extends java.lang.Object {\n"
        "  public static void jc4() {\n"
        "    int a0;\n    a0 = 2004;\n    a0 = 0;\n"
        "    staticinvoke <JSink: void sink204(int)>(a0);\n    return;\n"
        "  }\n}", "2004", False, False),
    "jbc_interproc_param": ("Inter-procedural",
        "public class JA5 extends java.lang.Object {\n"
        "  public static void jh5(int) {\n"
        "    int x5;\n    x5 := @parameter0: int;\n"
        "    staticinvoke <JSink: void sink205(int)>(x5);\n    return;\n"
        "  }\n"
        "  public static void jc5() {\n"
        "    staticinvoke <JA5: void jh5(int)>(2005);\n    return;\n"
        "  }\n}", "2005", True, True),
    "jbc_interproc_return": ("Inter-procedural",
        "public class JA6 extends java.lang.Object {\n"
        "  public static int jh6() {\n    return 2006;\n  }\n"
        "  public static void jc6() {\n"
        "    int a6;\n"
        "    a6 = staticinvoke <JA6: int jh6()>();\n"
        "    staticinvoke <JSink: void sink206(int)>(a6);\n    return;\n"
        "  }\n}", "2006", True, True),
    "jbc_wrong_arg_index": ("Inter-procedural",
        "public class JA7 extends java.lang.Object {\n"
        "  public static void jh7(int, int) {\n"
        "    int x7, y7;\n    x7 := @parameter0: int;\n"
        "    y7 := @parameter1: int;\n"
        "    staticinvoke <JSink: void sink207(int)>(y7);\n    return;\n"
        "  }\n"
        "  public static void jc7() {\n"
        "    staticinvoke <JA7: void jh7(int,int)>(2007, 2);\n    return;\n"
        "  }\n}", "2007", False, False),
    "jbc_branch_join": ("Predicates",
        "public class JA8 extends java.lang.Object {\n"
        "  public static void jc8(int) {\n"
        "    int a0, b0, c0;\n    c0 := @parameter0: int;\n"
        "    a0 = 2008;\n    b0 = 0;\n"
        "    if c0 <= 0 goto jskip8;\n"
        "    b0 = a0;\n"
        "  jskip8:\n"
        "    staticinvoke <JSink: void sink208(int)>(b0);\n    return;\n"
        "  }\n}", "2008", True, True),
    # ==== round-5 expansion: per-category counts scaled to ~55% of the
    # reference's Securibench Micro distribution (benchmarks/README.md:11-27:
    # Basic 67, Inter-procedural 25, Collections 22, Arrays 15, Aliasing 14,
    # Predicates 9, Sanitizers 9, Data Structures 8, Factories 6, Strong
    # Updates 5, Reflection 4, Session 4 — 188 total), every count within 2x.
    # ---- Basic (+27 -> 34; reference: 59 TP / 6 TN / 2 FN / 0 FP) ----------
    "b_chain3": ("Basic",
        "void f3001() { int a = 3001; int b = a; int c = b; sink3001(c); }",
        "3001", True, True),
    "b_arith_mul": ("Basic",
        "void f3002() { int a = 3002; int b = a * 2; sink3002(b); }",
        "3002", True, True),
    "b_arith_sub": ("Basic",
        "void f3003() { int a = 3003; int b = a - 9; sink3003(b); }",
        "3003", True, True),
    "b_neg": ("Basic",
        "void f3004() { int a = 3004; int b = -a; sink3004(b); }",
        "3004", True, True),
    "b_sink_expr": ("Basic",
        "void f3005() { int a = 3005; sink3005(a + 1); }",
        "3005", True, True),
    "b_sink_direct_literal": ("Basic",
        "void f3006() { sink3006(3006); }", "3006", True, True),
    "b_untainted_const": ("Basic",
        "void f3007() { int a = 3007; sink3007(5); }", "3007", False, False),
    "b_copy_then_overwrite_src": ("Basic",
        "void f3008() { int a = 3008; int b = a; a = 0; sink3008(b); }",
        "3008", True, True),
    "b_self_assign": ("Basic",
        "void f3009() { int a = 3009; a = a; sink3009(a); }",
        "3009", True, True),
    "b_paren": ("Basic",
        "void f3010() { int a = 3010; int b = (a); sink3010(b); }",
        "3010", True, True),
    "b_for_accum": ("Basic",
        "void f3011() { int a = 3011; int s = 0; int i;"
        " for (i = 0; i < 3; i++) { s = s + a; } sink3011(s); }",
        "3011", True, True),
    "b_mod": ("Basic",
        "void f3012() { int a = 3012; int b = a % 7; sink3012(b); }",
        "3012", True, True),
    "b_div": ("Basic",
        "void f3013() { int a = 3013; int b = a / 3; sink3013(b); }",
        "3013", True, True),
    "b_bitand": ("Basic",
        "void f3014() { int a = 3014; int b = a & 255; sink3014(b); }",
        "3014", True, True),
    "b_bitor": ("Basic",
        "void f3015() { int a = 3015; int b = a | 1; sink3015(b); }",
        "3015", True, True),
    "b_xor": ("Basic",
        "void f3016() { int a = 3016; int b = a ^ 5; sink3016(b); }",
        "3016", True, True),
    "b_shift": ("Basic",
        "void f3017() { int a = 3017; int b = a << 2; sink3017(b); }",
        "3017", True, True),
    "b_cmp_result": ("Basic",
        "void f3018() { int a = 3018; int b = a > 0; sink3018(b); }",
        "3018", True, True),
    "b_increment": ("Basic",
        "void f3019() { int a = 3019; a++; sink3019(a); }",
        "3019", True, True),
    "b_plus_eq": ("Basic",
        "void f3020() { int a = 3020; int b = 0; b += a; sink3020(b); }",
        "3020", True, True),
    "b_sink_after_use": ("Basic",
        "void f3021() { int a = 3021; use3021(a); sink3021(a); }",
        "3021", True, True),
    "b_unrelated_pair": ("Basic",
        "void f3022() { int a = 3022; int b = 7; int c = b; sink3022(c); }",
        "3022", False, False),
    "b_copy_overwritten": ("Basic",
        "void f3023() { int a = 3023; int b = a; b = 2; sink3023(b); }",
        "3023", False, False),
    "b_nested_expr": ("Basic",
        "void f3024() { int a = 3024; int b = (a + 1) * (a - 1); sink3024(b); }",
        "3024", True, True),
    "jbc_chain3": ("Basic",
        "public class JB25 extends java.lang.Object {\n"
        "  public static void jf3025() {\n"
        "    int a0, b0, c0;\n    a0 = 3025;\n    b0 = a0;\n    c0 = b0;\n"
        "    staticinvoke <JSink: void sink3025(int)>(c0);\n    return;\n"
        "  }\n}", "3025", True, True),
    "jbc_goto_loop": ("Basic",
        "public class JB26 extends java.lang.Object {\n"
        "  public static void jf3026(int) {\n"
        "    int a0, s0, c0;\n    c0 := @parameter0: int;\n"
        "    a0 = 3026;\n    s0 = 0;\n"
        "  jloop26:\n"
        "    if c0 <= 0 goto jdone26;\n"
        "    s0 = s0 + a0;\n    c0 = c0 - 1;\n    goto jloop26;\n"
        "  jdone26:\n"
        "    staticinvoke <JSink: void sink3026(int)>(s0);\n    return;\n"
        "  }\n}", "3026", True, True),
    "jbc_unrelated": ("Basic",
        "public class JB27 extends java.lang.Object {\n"
        "  public static void jf3027() {\n"
        "    int a0, b0;\n    a0 = 3027;\n    b0 = 9;\n"
        "    staticinvoke <JSink: void sink3027(int)>(b0);\n    return;\n"
        "  }\n}", "3027", False, False),
    # ---- Inter-procedural (+6 -> 13; ref: 12 TP / 10 TN / 3 FN / 0 FP) -----
    "ip_two_level_param": ("Inter-procedural",
        "void h3031(int x3031) { sink3031(x3031); }\n"
        "void g3031(int y3031) { h3031(y3031); }\n"
        "void f3031() { g3031(3031); }",
        "3031", True, True),
    "ip_return_chain": ("Inter-procedural",
        "int h3032() { return 3032; }\n"
        "int g3032() { int v = h3032(); return v; }\n"
        "void f3032() { int a = g3032(); sink3032(a); }",
        "3032", True, True),
    "ip_identity_wrapper": ("Inter-procedural",
        "int id3033(int x3033) { return x3033; }\n"
        "void f3033() { int a = id3033(3033); sink3033(a); }",
        "3033", True, True),
    "ip_second_arg": ("Inter-procedural",
        "void h3034(int x3034, int y3034) { sink3034(y3034); }\n"
        "void f3034() { h3034(2, 3034); }",
        "3034", True, True),
    "ip_depth_exceeded": ("Inter-procedural",
        # 6 interprocedural hops > maxCallDepth 4 — known FN (k-limit,
        # Engine.scala:322), the reference's Inter-procedural FN analog
        "void h3035f(int u6) { sink3035(u6); }\n"
        "void h3035e(int u5) { h3035f(u5); }\n"
        "void h3035d(int u4) { h3035e(u4); }\n"
        "void h3035c(int u3) { h3035d(u3); }\n"
        "void h3035b(int u2) { h3035c(u2); }\n"
        "void h3035a(int u1) { h3035b(u1); }\n"
        "void f3035() { h3035a(3035); }",
        "3035", True, False),
    "ip_const_to_sinking_callee": ("Inter-procedural",
        "void h3036(int x3036) { sink3036(x3036); }\n"
        "void f3036() { int a = 3036; use3036(a); h3036(7); }",
        "3036", False, False),
    # ---- Collections (+9 -> 11; ref: 14 TP / 2 TN / 0 FN / 6 FP) -----------
    "col_two_puts": ("Collections",
        "void f3041(int *c3041) { put3041(c3041, 3041); put3041(c3041, 2);"
        " int v = get3041(c3041); sink3041(v); }",
        "3041", True, True),
    "col_get_before_put": ("Collections",
        "void f3042(int *c3042) { int v = get3042(c3042);"
        " put3042(c3042, 3042); sink3042(v); }",
        "3042", False, False),
    "col_alias_handle": ("Collections",
        "void f3043(int *c3043) { put3043(c3043, 3043); int *d3043 = c3043;"
        " int v = get3043(d3043); sink3043(v); }",
        "3043", True, True),
    "col_copy_between": ("Collections",
        "void f3044(int *ca3044, int *cb3044) { put3044(ca3044, 3044);"
        " copy3044(cb3044, ca3044); int v = get3044(cb3044); sink3044(v); }",
        "3044", True, True),
    "col_clear_fp": ("Collections",
        # container-level taint survives clear() — semantics-default FP,
        # the reference's Collections FP analog
        "void f3045(int *c3045) { put3045(c3045, 3045); clear3045(c3045);"
        " int v = get3045(c3045); sink3045(v); }",
        "3045", False, True),
    "col_iterate": ("Collections",
        "void f3046(int *c3046) { put3046(c3046, 3046); int v = 0;"
        " while (has3046(c3046)) { v = next3046(c3046); } sink3046(v); }",
        "3046", True, True),
    "col_index_insensitive_fp": ("Collections",
        # container taint is index-insensitive — FP like the reference's
        # list-position rows
        "void f3047(int *c3047) { putat3047(c3047, 0, 3047);"
        " int v = getat3047(c3047, 1); sink3047(v); }",
        "3047", False, True),
    "col_from_factory": ("Collections",
        "void f3048() { int *c3048 = make3048(3048); int v = get3048(c3048);"
        " sink3048(v); }",
        "3048", True, True),
    "jbc_col_carry": ("Collections",
        "public class JC49 extends java.lang.Object {\n"
        "  public static void jf3049(int[]) {\n"
        "    int[] c0;\n    int v0;\n    c0 := @parameter0: int[];\n"
        "    staticinvoke <JCol: void put3049(int[],int)>(c0, 3049);\n"
        "    v0 = staticinvoke <JCol: int get3049(int[])>(c0);\n"
        "    staticinvoke <JSink: void sink3049(int)>(v0);\n    return;\n"
        "  }\n}", "3049", True, True),
    # ---- Arrays (+6 -> 8; ref: 7 TP / 5 TN / 2 FN / 1 FP) ------------------
    "arr_var_index": ("Arrays",
        "void f3051(int i3051) { int r3051[4]; r3051[i3051] = 3051;"
        " sink3051(r3051[i3051]); }",
        "3051", True, True),
    "arr_undefined_slot": ("Arrays",
        "void f3052() { int r3052[4]; r3052[0] = 3052; sink3052(r3052[1]); }",
        "3052", False, False),
    "arr_elem_copy": ("Arrays",
        "void f3053() { int r3053[4]; r3053[0] = 3053; int x = r3053[0];"
        " sink3053(x); }",
        "3053", True, True),
    "arr_base_copy": ("Arrays",
        "void f3054() { int r3054[4]; int *s3054; r3054[0] = 3054;"
        " s3054 = r3054; sink3054(s3054[0]); }",
        "3054", True, True),
    "arr_overwrite_same_slot": ("Arrays",
        "void f3055() { int r3055[4]; r3055[0] = 3055; r3055[0] = 0;"
        " sink3055(r3055[0]); }",
        "3055", False, False),
    "arr_loop_fill": ("Arrays",
        "void f3056() { int r3056[4]; int i;"
        " for (i = 0; i < 4; i++) { r3056[i] = 3056; } sink3056(r3056[2]); }",
        "3056", True, False),
    # ---- Aliasing (+5 -> 7; ref: 4 TP / 1 TN / 8 FN / 1 FP — aliasing is
    # the reference's weakest category and ours: *p writes vs named reads
    # don't unify without a points-to pass) ----------------------------------
    "ali_write_through_ptr": ("Aliasing",
        "void f3061() { int p3061 = 0; int *q3061 = &p3061; *q3061 = 3061;"
        " sink3061(p3061); }",
        "3061", True, False),
    "ali_copy_chain": ("Aliasing",
        "void f3062() { int p3062 = 3062; int q3062 = p3062;"
        " int r3062 = q3062; sink3062(r3062); }",
        "3062", True, True),
    "ali_two_ptrs": ("Aliasing",
        "void f3063() { int p3063 = 3063; int *q3063 = &p3063;"
        " int *r3063 = &p3063; sink3063(*r3063); }",
        "3063", True, True),
    "ali_no_alias": ("Aliasing",
        "void f3064() { int p3064 = 3064; int o3064 = 5;"
        " int *q3064 = &o3064; sink3064(*q3064); }",
        "3064", False, False),
    "ali_swap_vars": ("Aliasing",
        "void f3065() { int p3065 = 3065; int q3065 = 4; int t3065 = p3065;"
        " p3065 = q3065; q3065 = t3065; sink3065(q3065); }",
        "3065", True, True),
    # ---- Sanitizers (+2 -> 5; ref: 2 TP / 2 TN / 2 FN / 3 FP) --------------
    "san_validate_branch_fp": ("Sanitizers",
        # value used only under a validity check — path-insensitive FP
        "void f3071(int c3071) { int a = 3071;"
        " if (c3071 > 0) { sink3071(a); } }",
        "3071", False, True),
    "san_encode_not_sanitize": ("Sanitizers",
        # encoding keeps the taint — true positive through the call
        "void f3072() { int a = 3072; a = encode3072(a); sink3072(a); }",
        "3072", True, True),
    # ---- Predicates (+2 -> 5; ref: 5 TP / 0 TN / 0 FN / 4 FP) --------------
    "pred_both_branches": ("Predicates",
        "void f3076(int c3076) { int a = 3076; int b = 0;"
        " if (c3076 > 0) { b = a; } else { b = a; } sink3076(b); }",
        "3076", True, True),
    "pred_dead_else_fp": ("Predicates",
        "void f3077() { int a = 3077; int b = 0;"
        " if (1) { b = 0; } else { b = a; } sink3077(b); }",
        "3077", False, True),
    # ---- Data Structures (+2 -> 4; ref: 2 TP / 2 TN / 3 FN / 1 FP) ---------
    "ds_field_to_local": ("Data Structures",
        "void f3081(struct S3081 *s3081) { s3081->f = 3081;"
        " int t = s3081->f; sink3081(t); }",
        "3081", True, True),
    "ds_field_via_copy": ("Data Structures",
        "void f3082(struct S3082 *s3082) { s3082->f = 3082;"
        " struct S3082 *t3082 = s3082; sink3082(t3082->f); }",
        "3082", True, True),
    # ---- Factories (+2 -> 3; ref: 3 TP / 3 TN / 0 FN / 0 FP) ---------------
    "fac_const_factory": ("Factories",
        "int mk3086() { return 0; }\n"
        "void f3086() { int a = 3086; int o = mk3086(); sink3086(o); }",
        "3086", False, False),
    "fac_two_factories": ("Factories",
        "int mka3087() { return 3087; }\n"
        "int mkb3087() { return 0; }\n"
        "void f3087() { int o = mkb3087(); use3087(mka3087()); sink3087(o); }",
        "3087", False, False),
    # ---- Strong Updates (+1 -> 4; ref: 0 TP / 4 TN / 1 FN / 0 FP) ----------
    "su_double_overwrite": ("Strong Updates",
        "void f3091() { int a = 3091; a = 1; a = 2; sink3091(a); }",
        "3091", False, False),
    # ---- Reflection (+1 -> 2; ref: 2 TP / 0 TN / 1 FN / 1 FP) --------------
    "refl_fnptr_branch": ("Reflection",
        "void tgt3092(int v3092) { sink3092(v3092); }\n"
        "void oth3092(int w3092) { use3092(w3092); }\n"
        "void f3092(int c3092) { void (*fp3092)(int);"
        " if (c3092 > 0) { fp3092 = tgt3092; } else { fp3092 = oth3092; }"
        " fp3092(3092); }",
        "3092", True, True),
    # ---- Session (+1 -> 2; ref: 3 TP / 0 TN / 0 FN / 1 FP) -----------------
    "session_same_method": ("Session",
        "int g3096;\n"
        "void f3096() { g3096 = 3096; sink3096(g3096); }",
        "3096", True, True),
    # ---- top-up to >100 ----------------------------------------------------
    "b_three_way_merge": ("Basic",
        "void f3101(int c3101) { int a = 3101; int b = 0;"
        " if (c3101 > 1) { b = a; } else { b = a + 1; } sink3101(b); }",
        "3101", True, True),
    "col_remove_then_get": ("Collections",
        # remove() doesn't clear container-level taint — semantics-default FP
        "void f3102(int *c3102) { put3102(c3102, 3102); rem3102(c3102, 0);"
        " int v = get3102(c3102); sink3102(v); }",
        "3102", False, True),
    "ip_sink_in_caller_of_caller": ("Inter-procedural",
        "int h3103() { return 3103; }\n"
        "int g3103() { return h3103(); }\n"
        "void f3103() { int a = g3103(); sink3103(a); }",
        "3103", True, True),
}


@pytest.fixture(scope="module")
def accuracy_cpg(spark):
    from joern_spark.corpus import docs_df
    from joern_spark.pipeline import run_pipeline

    docs = docs_df(spark, [
        {"doc_id": f"acc/{name}", "spans": [
            {"kind": "code", "text": code, "media_ref": "", "offset": 0}]}
        for name, (_cat, code, _, _, _) in CASES.items()
    ])
    return run_pipeline(spark, docs, n_parts=4)


@pytest.fixture(scope="module")
def verdicts(accuracy_cpg):
    """Engine verdict per case, from ONE shared reachableByFlows run.

    Sinks are the same global `sink*`-argument set every per-case run used;
    sources are the union of every case's seed literal. Per-sink/source
    evolution in the flows engine is independent (each sink's path walk
    runs alone and emits at every source passed, keep-longest dedup
    partitions by path head), and each case's flow stays inside its own
    doc (unique names by construction), so the union run is
    observationally identical to 101 per-case runs — at 1/101 of the
    Spark-job count (the reference's shared-path-cache idea applied to the
    benchmark harness itself)."""
    res = accuracy_cpg
    spark = res.nodes.sparkSession
    sink_args = (
        res.nodes.filter(F.col("kind") == "CALL")
        .filter(F.col("name").rlike("^sink"))
        .select(F.col("node_id").alias("src"))
        .join(res.edges.filter(F.col("kind") == "ARGUMENT"), "src")
        .select(F.col("dst").alias("node_id"))
    )
    lits = {lit for (_c, _code, lit, _t, _p) in CASES.values()}
    by_lit: dict = {}
    for r in res.nodes.filter(
        (F.col("kind") == "LITERAL") & F.col("code").isin(sorted(lits))
    ).select("node_id", "code").collect():
        by_lit.setdefault(r["code"], set()).add(r["node_id"])
    sources = spark.createDataFrame(
        [(int(i),) for s in by_lit.values() for i in s], "node_id long")
    paths = reachable_by_flows(res.nodes, res.edges, sink_args, sources)
    heads = {p[0] for p in paths}
    out = {}
    for name, (_cat, _code, lit, _truth, _pred) in CASES.items():
        ids = by_lit.get(lit, set())
        assert ids, name
        out[name] = bool(ids & heads)
    return out


def category_table(verdicts) -> dict:
    """category -> dict(TP, FP, TN, FN) — the Securibench-style table."""
    table: dict = {}
    for name, (cat, _code, _lit, truth, _pred) in CASES.items():
        got = verdicts[name]
        cell = ("TP" if truth and got else "FN" if truth
                else "FP" if got else "TN")
        table.setdefault(cat, {"TP": 0, "FP": 0, "TN": 0, "FN": 0})[cell] += 1
    return table


def test_engine_verdicts_locked(verdicts):
    """Regression gate: every case's engine verdict matches the locked
    expectation — a flip in either direction is a dataflow change."""
    mismatches = {
        name: (verdicts[name], pred)
        for name, (_cat, _c, _l, _t, pred) in CASES.items()
        if verdicts[name] != pred
    }
    assert not mismatches, f"engine verdict drift: {mismatches}"


def test_all_reference_categories_seeded():
    cats = {cat for cat, *_ in CASES.values()}
    assert cats == {
        "Aliasing", "Arrays", "Basic", "Collections", "Data Structures",
        "Factories", "Inter-procedural", "Predicates", "Reflection",
        "Sanitizers", "Session", "Strong Updates",
    }


def test_accuracy_vs_truth(verdicts):
    """Aggregate accuracy vs ground truth ≥ the reference's published bar
    (Securibench Micro javasrc2cpg: 78.72%), with the per-category table
    printed in the reference's format (mirrored in BASELINE.md)."""
    table = category_table(verdicts)
    for cat in sorted(table):
        c = table[cat]
        print(f"{cat:18s} #={sum(c.values()):2d} FP={c['FP']} TP={c['TP']} "
              f"TN={c['TN']} FN={c['FN']}")
    tp = sum(c["TP"] for c in table.values())
    tn = sum(c["TN"] for c in table.values())
    fp = sum(c["FP"] for c in table.values())
    fn = sum(c["FN"] for c in table.values())
    total = len(CASES)
    acc = (tp + tn) / total
    print(f"total: TP={tp} FP={fp} TN={tn} FN={fn} acc={acc:.4f}")
    assert acc >= 0.7872, f"accuracy {acc:.4f} below the reference bar"
    # false negatives only in documented blind-spot categories — all ones
    # where the reference's own table posts FNs too (benchmarks/README.md:
    # Aliasing 8, Inter-procedural 3, Data Structures 3, Arrays 2, Basic 2,
    # Sanitizers 2, Strong Updates 1, Reflection 1): k-limit truncation,
    # pointer-write aliasing, base-vs-element array defs, field copies,
    # cross-method globals
    fn_cats = {cat for name, (cat, _c, _l, t, _p) in CASES.items()
               if t and not verdicts[name]}
    assert fn_cats <= {"Reflection", "Session", "Inter-procedural",
                       "Aliasing", "Arrays", "Data Structures"}, fn_cats


# reference Securibench Micro per-category case counts (benchmarks/README.md)
_REF_COUNTS = {
    "Aliasing": 14, "Arrays": 15, "Basic": 67, "Collections": 22,
    "Data Structures": 8, "Factories": 6, "Inter-procedural": 25,
    "Predicates": 9, "Reflection": 4, "Sanitizers": 9, "Session": 4,
    "Strong Updates": 5,
}


def test_suite_scale_and_distribution():
    """>=100 locked cases, each category's share within 2x of the
    reference's Securibench Micro distribution (round-4 verdict ask #2)."""
    assert len(CASES) >= 100, len(CASES)
    ours: dict = {}
    for cat, *_ in CASES.values():
        ours[cat] = ours.get(cat, 0) + 1
    ref_total = sum(_REF_COUNTS.values())
    for cat, ref_n in _REF_COUNTS.items():
        ref_share = ref_n / ref_total
        our_share = ours.get(cat, 0) / len(CASES)
        assert ref_share / 2 <= our_share <= ref_share * 2, (
            f"{cat}: our share {our_share:.3f} vs reference {ref_share:.3f}"
        )
