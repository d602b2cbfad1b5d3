"""DuckDB oracles for the CPG driver queries.

Parsing itself is not SQL-expressible, so the correctness gate works in two
tiers:

1. ``cpg_span_provenance`` is a PURE-SQL oracle: the synthesized corpus uses
   an md5-based seed (``ids.synth_key``), so DuckDB re-derives every span of
   every document straight from the raw ``documents`` table — program text,
   span split points, media interleaving, offsets — with zero Python. This
   independently verifies the north-rule span-sequence invariant
   (kind, text, media_ref, order) end-to-end through parse + reconstruction.
2. The remaining oracles run against a parquet dump of the pipeline's
   ``nodes``/``edges``/``spans`` frames (written by ``dump_cpg`` as a side
   effect of the sf0.01 run, before the driver evaluates the SQL). DuckDB
   re-computes the *derivations* relationally — triple materialization,
   edge→code joins, connected-components canonicalization (recursive CTE),
   the scan bundle including the ``reachableBy`` dataflow query (recursive
   CTE over REACHING_DEF + interprocedural hops), and the feature-hash
   bucketing — so every join, filter, closure, and aggregation downstream of
   the parser is independently checked.
"""

from __future__ import annotations

import getpass
import os
import shutil
import uuid

# keyed by user so concurrent sessions of different users can't clobber each
# other; JOERN_SPARK_ORACLE_DUMP overrides for full per-session isolation
DUMP_DIR = os.environ.get(
    "JOERN_SPARK_ORACLE_DUMP",
    f"/tmp/joern_spark_oracle_{getpass.getuser()}/sf0.01",
)


def dump_cpg(res) -> None:
    """Write the pipeline's nodes/edges/spans for the DuckDB oracles.

    The three frames land in a staging dir that is renamed over DUMP_DIR only
    once ALL writes finished — a killed dump can never leave a half-visible
    (or half-overwritten) dump for the oracle reader."""
    tmp = f"{DUMP_DIR}.tmp-{uuid.uuid4().hex[:8]}"
    res.nodes.write.mode("overwrite").parquet(os.path.join(tmp, "nodes"))
    res.edges.write.mode("overwrite").parquet(os.path.join(tmp, "edges"))
    res.spans.select("doc_id", "span_offset", "kind", "text", "media_ref") \
        .write.mode("overwrite").parquet(os.path.join(tmp, "spans"))
    if os.path.exists(DUMP_DIR):
        shutil.rmtree(DUMP_DIR)
    os.rename(tmp, DUMP_DIR)


_N = f"read_parquet('{DUMP_DIR}/nodes/*.parquet')"
_E = f"read_parquet('{DUMP_DIR}/edges/*.parquet')"
_S = f"read_parquet('{DUMP_DIR}/spans/*.parquet')"

_NL = "chr(10)"

# ---- pure-SQL span derivation (mirrors synth.code_for_key + corpus.split) --

_SPAN_SQL = f"""
WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS did FROM documents),
kk AS (
    SELECT did,
           (('0x' || substr(md5('synth|' || did), 1, 8))::BIGINT % 2147483648) AS k
    FROM d
),
parts AS (
    SELECT did, k,
           lpad(CAST(k % 1000000 AS VARCHAR), 6, '0') AS m6,
           CAST(k % 97 AS VARCHAR) AS an,
           CAST(k % 13 AS VARCHAR) AS bn,
           CAST(k % 7 AS VARCHAR) AS cn,
           lpad(CAST(k % 50 AS VARCHAR), 2, '0') AS nn,
           (k % 5 = 0) AS has_media,
           (k % 11 = 3) AS is_js,
           (k % 11 = 5) AS is_jimple,
           (k % 11 = 7) AS is_py,
           (k % 11 = 9) AS is_php,
           (k % 11 = 1) AS is_kt,
           (k % 11 = 6) AS is_sw,
           (k % 11 = 2) AS is_go,
           (k % 11 = 4) AS is_rb,
           (k % 11 = 8) AS is_cs,
           (k % 11 = 10) AS is_asm
    FROM kk
),
spans0 AS (
    SELECT did, 0 AS idx, 0 AS media_first, 'code' AS kind,
           CASE WHEN is_js THEN
           'const util = require(''pkg_' || nn || ''');' || {_NL} ||
           'const fmt_' || m6 || ' = (a) => a + ' || bn || ';' || {_NL} ||
           'function helper_' || m6 || '(x) {{' || {_NL} ||
           '  let s = fmt_' || m6 || '(x);' || {_NL} ||
           '  log(s);'
           WHEN is_jimple THEN
           'public class JW_' || m6 || ' extends java.lang.Object {{' || {_NL} ||
           '  public int jrun(int) {{' || {_NL} ||
           '    JW_' || m6 || ' r0;' || {_NL} ||
           '    int i0, i1;' || {_NL} ||
           '    r0 := @this: JW_' || m6 || ';' || {_NL} ||
           '    i0 := @parameter0: int;'
           WHEN is_py THEN
           'import pkg_' || nn || {_NL} ||
           '@trace' || {_NL} ||
           'def helper_' || m6 || '(x, scale=1):' || {_NL} ||
           '    s = x + ' || bn || {_NL} ||
           '    log(s)' || {_NL} ||
           '    return s * scale'
           WHEN is_php THEN
           '<?php' || {_NL} ||
           'require ''pkg_' || nn || ''';' || {_NL} ||
           'function helper_' || m6 || '($x) {{' || {_NL} ||
           '  $s = $x + ' || bn || ';' || {_NL} ||
           '  log($s);'
           WHEN is_kt THEN
           'import pkg_' || nn || ';' || {_NL} ||
           'fun helper_' || m6 || '(x: Int): Int {{' || {_NL} ||
           '  val s = x + ' || bn || ';' || {_NL} ||
           '  log(s);'
           WHEN is_sw THEN
           'import pkg_' || nn || ';' || {_NL} ||
           'func helper_' || m6 || '(x: Int) -> Int {{' || {_NL} ||
           '  let s = x + ' || bn || ';' || {_NL} ||
           '  log(s);'
           WHEN is_go THEN
           'import "pkg_' || nn || '";' || {_NL} ||
           'func helper_' || m6 || '(x int) int {{' || {_NL} ||
           '  s := x + ' || bn || ';' || {_NL} ||
           '  log(s);'
           WHEN is_rb THEN
           'require ''pkg_' || nn || '''' || {_NL} ||
           'def helper_' || m6 || '(x)' || {_NL} ||
           '  s = x + ' || bn || {_NL} ||
           '  log(s)' || {_NL} ||
           '  return s'
           WHEN is_cs THEN
           'using pkg_' || nn || ';' || {_NL} ||
           'class W_' || m6 || ' {{' || {_NL} ||
           '  public int run(int v) {{ return v + ' || cn || '; }}' || {_NL} ||
           '  public int helper_' || m6 || '(int x) {{' || {_NL} ||
           '    int s = x + ' || bn || ';' || {_NL} ||
           '    log(s);'
           WHEN is_asm THEN
           'fn main_' || m6 || ' @ 0x401000' || {_NL} ||
           '0x401000: MOV EAX, ' || an || {_NL} ||
           '0x401004: ADD EAX, ' || bn || {_NL} ||
           '0x401008: CMP EAX, 64' || {_NL} ||
           '0x40100c: JNZ 0x401014'
           ELSE
           'int main_' || m6 || '() {{' || {_NL} ||
           '  int a = ' || an || ';' || {_NL} ||
           '  int b = a + ' || bn || ';' || {_NL} ||
           '  char *buf = malloc(b);' || {_NL} ||
           '  helper_' || m6 || '(a, b);'
           END AS text,
           '' AS media_ref
    FROM parts
    UNION ALL
    SELECT did, 1, 1, 'code',
           CASE WHEN is_js THEN
           '  return s;' || {_NL} ||
           '}}' || {_NL} ||
           'class W_' || m6 || ' {{' || {_NL} ||
           '  run(v) {{ return v + ' || cn || '; }}' || {_NL} ||
           '}}'
           WHEN is_jimple THEN
           '    i1 = i0 + ' || cn || ';' || {_NL} ||
           '    i1 = virtualinvoke r0.<JW_' || m6 || ': int jtally(int)>(i1);' || {_NL} ||
           '    i1 = staticinvoke <JLog: int log(int)>(i1);' || {_NL} ||
           '    return i1;' || {_NL} ||
           '  }}' || {_NL} ||
           '  public int jtally(int) {{'
           WHEN is_py THEN
           'class W_' || m6 || ':' || {_NL} ||
           '    def run(self, v):' || {_NL} ||
           '        return v + ' || cn || {_NL} ||
           'w = W_' || m6 || '()' || {_NL} ||
           't = w.run(' || an || ')' || {_NL} ||
           'q = [e + ' || cn || ' for e in [t]]'
           WHEN is_php THEN
           '  return $s;' || {_NL} ||
           '}}' || {_NL} ||
           'class W_' || m6 || ' {{' || {_NL} ||
           '  public function run($v) {{ return $v + ' || cn || '; }}' || {_NL} ||
           '}}'
           WHEN is_kt THEN
           '  return s;' || {_NL} ||
           '}}' || {_NL} ||
           'class W_' || m6 || ' {{' || {_NL} ||
           '  fun run(v: Int): Int {{ return v + ' || cn || '; }}'
           WHEN is_sw THEN
           '  return s;' || {_NL} ||
           '}}' || {_NL} ||
           'class W_' || m6 || ' {{' || {_NL} ||
           '  func run(v: Int) -> Int {{ return v + ' || cn || '; }}'
           WHEN is_go THEN
           '  return s;' || {_NL} ||
           '}}' || {_NL} ||
           'type W_' || m6 || ' struct {{ n int; }}' || {_NL} ||
           'func (w W_' || m6 || ') run(v int) int {{ return v + ' || cn || '; }}'
           WHEN is_rb THEN
           'end' || {_NL} ||
           'class W_' || m6 || {_NL} ||
           '  def run(v)' || {_NL} ||
           '    return v + ' || cn || {_NL} ||
           '  end'
           WHEN is_cs THEN
           '    return s;' || {_NL} ||
           '  }}' || {_NL} ||
           '}}' || {_NL} ||
           'class P_' || m6 || ' {{' || {_NL} ||
           '  static int go(int m) {{' || {_NL} ||
           '    W_' || m6 || ' w = new W_' || m6 || '();'
           WHEN is_asm THEN
           '0x401010: CALL helper_' || m6 || {_NL} ||
           '0x401014: CALL log' || {_NL} ||
           '0x401018: RET' || {_NL} ||
           'endfn' || {_NL} ||
           'fn helper_' || m6 || ' @ 0x401020 params EDI'
           ELSE
           '  printf(buf);' || {_NL} ||
           '  if (a > b) {{ a = b; }} else {{ b = a; }}' || {_NL} ||
           '  while (a > 0) {{ a--; }}' || {_NL} ||
           '  return b;' || {_NL} ||
           '}}'
           END, ''
    FROM parts
    UNION ALL
    SELECT did, 2, 1, 'code',
           CASE WHEN is_js THEN
           'let w = new W_' || m6 || '();' || {_NL} ||
           'let t = w.run(' || an || ');' || {_NL} ||
           'let [p, q] = t;' || {_NL} ||
           'let m = `t=$' || '{{' || 'p + ' || bn || '}}`;' || {_NL} ||
           'let u = helper_' || m6 || '(p);'
           WHEN is_jimple THEN
           '    int j0;' || {_NL} ||
           '    j0 := @parameter0: int;' || {_NL} ||
           '    return j0;' || {_NL} ||
           '  }}' || {_NL} ||
           '}}'
           WHEN is_py THEN
           'try:' || {_NL} ||
           '    u = helper_' || m6 || '(t, scale=' || bn || ')' || {_NL} ||
           'except ValueError as err:' || {_NL} ||
           '    u = 0' || {_NL} ||
           'finally:' || {_NL} ||
           '    log(u)'
           WHEN is_php THEN
           '$w = new W_' || m6 || '();' || {_NL} ||
           '$t = $w->run(' || an || ');' || {_NL} ||
           '$u = helper_' || m6 || '($t);'
           WHEN is_kt THEN
           '}}' || {_NL} ||
           'val w = W_' || m6 || '();' || {_NL} ||
           'val t = w.run(' || an || ');' || {_NL} ||
           'val u = helper_' || m6 || '(t);'
           WHEN is_sw THEN
           '}}' || {_NL} ||
           'let w = W_' || m6 || '();' || {_NL} ||
           'let t = w.run(' || an || ');' || {_NL} ||
           'let u = helper_' || m6 || '(t);'
           WHEN is_go THEN
           'w := new(W_' || m6 || ');' || {_NL} ||
           't := w.run(' || an || ');' || {_NL} ||
           'u := helper_' || m6 || '(t);' || {_NL} ||
           'log(u);'
           WHEN is_rb THEN
           'end' || {_NL} ||
           'w = W_' || m6 || '.new()' || {_NL} ||
           't = w.run(' || an || ')' || {_NL} ||
           'u = helper_' || m6 || '(t)' || {_NL} ||
           'log(u)'
           WHEN is_cs THEN
           '    int t = w.run(m);' || {_NL} ||
           '    return w.helper_' || m6 || '(t);' || {_NL} ||
           '  }}' || {_NL} ||
           '}}'
           WHEN is_asm THEN
           '0x401020: MOV EAX, EDI' || {_NL} ||
           '0x401024: ADD EAX, ' || cn || {_NL} ||
           '0x401028: RET' || {_NL} ||
           'endfn'
           ELSE
           'void helper_' || m6 || '(int x, int y) {{' || {_NL} ||
           '  int s = x + y;' || {_NL} ||
           '  printf(s);' || {_NL} ||
           '}}'
           END, ''
    FROM parts
    UNION ALL
    SELECT did, 1, 0, 'media', '', 'bin://artifact-' || did
    FROM parts WHERE has_media
)
SELECT 'synth/' || did AS doc_id,
       CAST(row_number() OVER (PARTITION BY did ORDER BY idx, media_first) - 1 AS INT)
           AS span_offset,
       kind, text, media_ref
FROM spans0
"""

# ---- triples re-materialization from the dumped frames ---------------------

_PROPS = ["name", "full_name", "code", "signature", "dispatch_type"]
_INT_PROPS = ["order", "argument_index"]

_TRIPLES_SQL = (
    f"WITH n AS (SELECT * FROM {_N}), e AS (SELECT * FROM {_E}), "
    f"s AS (SELECT * FROM {_S})\n"
    + "\nUNION ALL\n".join(
        [
            "SELECT CAST(node_id AS VARCHAR) AS subj, 'kind' AS pred, "
            "kind AS obj, doc_id FROM n WHERE kind IS NOT NULL AND kind != ''"
        ]
        + [
            f"SELECT CAST(node_id AS VARCHAR), '{p}', \"{p}\", doc_id FROM n "
            f"WHERE \"{p}\" IS NOT NULL AND \"{p}\" != ''"
            for p in _PROPS
        ]
        + [
            f"SELECT CAST(node_id AS VARCHAR), '{p}', CAST(\"{p}\" AS VARCHAR), "
            f"doc_id FROM n WHERE \"{p}\" IS NOT NULL"
            for p in _INT_PROPS
        ]
        + [
            "SELECT CAST(src AS VARCHAR), kind, CAST(dst AS VARCHAR), doc_id FROM e",
            "SELECT CAST(f.node_id AS VARCHAR), 'media_ref', s.media_ref, s.doc_id "
            "FROM s JOIN n f ON f.kind = 'FILE' AND f.doc_id = s.doc_id "
            "WHERE s.kind = 'media'",
        ]
    )
)

# ---- edge→code join oracles ------------------------------------------------

_CFG_SQL = f"""
WITH n AS (SELECT node_id, code FROM {_N}), e AS (SELECT * FROM {_E})
SELECT e.doc_id, ns.code AS src_code, nd.code AS dst_code
FROM e JOIN n ns ON e.src = ns.node_id JOIN n nd ON e.dst = nd.node_id
WHERE e.kind = 'CFG'
"""

_RD_SQL = f"""
WITH n AS (SELECT node_id, code FROM {_N}), e AS (SELECT * FROM {_E})
SELECT e.doc_id, ns.code AS src_code, nd.code AS dst_code, e.variable AS var
FROM e JOIN n ns ON e.src = ns.node_id JOIN n nd ON e.dst = nd.node_id
WHERE e.kind = 'REACHING_DEF'
"""

_DOM_SQL = f"""
WITH n AS (SELECT node_id, code FROM {_N}), e AS (SELECT * FROM {_E})
SELECT e.doc_id, e.kind AS edge_kind, ns.code AS src_code, nd.code AS dst_code
FROM e JOIN n ns ON e.src = ns.node_id JOIN n nd ON e.dst = nd.node_id
WHERE e.kind IN ('DOMINATE', 'POST_DOMINATE', 'CDG')
"""

_CALLGRAPH_SQL = f"""
WITH n AS (SELECT node_id, code, full_name FROM {_N}), e AS (SELECT * FROM {_E})
SELECT e.doc_id, ns.code AS call_code, nd.full_name AS callee_full_name
FROM e JOIN n ns ON e.src = ns.node_id JOIN n nd ON e.dst = nd.node_id
WHERE e.kind = 'CALL'
"""

_DEPS_SQL = f"""
WITH n AS (SELECT * FROM {_N}), e AS (SELECT * FROM {_E})
SELECT ni.doc_id, ni.name AS import_name, nd.full_name AS dep_name
FROM e JOIN n ni ON e.src = ni.node_id JOIN n nd ON e.dst = nd.node_id
WHERE e.kind = 'IMPORTS'
"""

# ---- canonicalization: connected components over the alias mention graph ---

_CANON_SQL = f"""
WITH RECURSIVE n AS (SELECT * FROM {_N}), e AS (SELECT * FROM {_E}),
spell AS (
    SELECT type_full_name AS a FROM n
    WHERE type_full_name IS NOT NULL AND type_full_name != ''
    UNION
    SELECT full_name FROM n WHERE kind IN ('TYPE', 'TYPE_DECL')
),
deref_pairs AS (
    SELECT a, regexp_replace(regexp_replace(a, '\\*', '', 'g'), '\\s+$', '') AS b
    FROM spell
),
alias_edges AS (
    SELECT na.full_name AS a, nb.full_name AS b
    FROM e JOIN n na ON na.node_id = e.src JOIN n nb ON nb.node_id = e.dst
    WHERE e.kind = 'ALIAS_OF'
),
mentions AS (
    SELECT a, b FROM deref_pairs WHERE a != b AND b != ''
    UNION
    SELECT a, b FROM alias_edges WHERE a != b
),
und AS (SELECT a, b FROM mentions UNION SELECT b, a FROM mentions),
reach AS (
    SELECT a, b FROM und
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE u.b != r.a
),
universe AS (SELECT a AS nd FROM mentions UNION SELECT b FROM mentions)
SELECT nd AS full_name, least(coalesce(min(r.b), nd), nd) AS canonical
FROM universe LEFT JOIN reach r ON r.a = nd
GROUP BY nd
"""

# ---- feature-hash vectors ---------------------------------------------------

_VECTORS_SQL = f"""
WITH n AS (SELECT * FROM {_N})
SELECT doc_id,
       CAST((('0x' || substr(md5(name), 1, 8))::BIGINT % 256) AS INT) AS bucket,
       count(*)::BIGINT AS cnt
FROM n
WHERE kind = 'CALL' AND name NOT LIKE '<operator>%'
GROUP BY doc_id, bucket
"""

# ---- scan bundle (incl. the reachableBy dataflow query) ---------------------

# operator families shared with the Spark scanners (query/dsl.py constants —
# interpolated so both sides always test the same vocabulary)
from .query.dsl import ARITHMETIC_OPS as _ARITH_OPS  # noqa: E402
from .query.dsl import ARRAY_ACCESS_OPS as _ARRACC_OPS  # noqa: E402
from .query.dsl import ASSIGNMENT_OPS as _ASSIGN_OPS  # noqa: E402

_ASSIGN_IN = ", ".join(f"'{o}'" for o in _ASSIGN_OPS)
_ARRACC_IN = ", ".join(f"'{o}'" for o in _ARRACC_OPS)
_ARITH_IN = ", ".join(f"'{o}'" for o in _ARITH_OPS)

_SCAN_SQL = f"""
WITH RECURSIVE n AS (SELECT * FROM {_N}), e AS (SELECT * FROM {_E}),
-- q1: malloc call sites in methods with no free()
mallocs AS (
    SELECT node_id, method_id, doc_id, code FROM n
    WHERE kind = 'CALL' AND regexp_matches(name, '^malloc$')
),
freem AS (
    SELECT DISTINCT method_id FROM n
    WHERE kind = 'CALL' AND regexp_matches(name, '^free$')
),
q1 AS (
    -- one row per matched node id (the Spark side dedups on node_id only)
    SELECT 'malloc-without-free' AS name, m.doc_id, m.code AS finding_code
    FROM mallocs m
    WHERE NOT EXISTS (SELECT 1 FROM freem f WHERE f.method_id = m.method_id)
),
-- q2: literals reaching printf-family sink arguments (reachableBy)
fmt_calls AS (
    SELECT node_id FROM n
    WHERE kind = 'CALL' AND regexp_matches(name, '^(printf|sprintf|fprintf)$')
),
sink_ids AS (
    SELECT DISTINCT a.dst AS node_id
    FROM e a JOIN fmt_calls c ON a.src = c.node_id
    WHERE a.kind = 'ARGUMENT'
),
lits AS (SELECT node_id FROM n WHERE kind = 'LITERAL'),
rdback AS (SELECT dst AS node_id, src AS prev FROM e WHERE kind = 'REACHING_DEF'),
callsx AS (SELECT src AS call_id, dst AS callee_id FROM e WHERE kind = 'CALL'),
argsx AS (
    SELECT a.src AS call_id, a.dst AS arg_id, na.argument_index AS a_index
    FROM e a JOIN n na ON na.node_id = a.dst
    WHERE a.kind = 'ARGUMENT'
),
params AS (
    SELECT node_id AS param_id, method_id AS callee_id, "order" AS p_index
    FROM n WHERE kind = 'METHOD_PARAMETER_IN'
),
rets AS (
    SELECT node_id AS ret_id, method_id AS callee_id FROM n
    WHERE kind IN ('RETURN', 'METHOD_RETURN')
),
interback AS (
    SELECT DISTINCT p.param_id AS node_id, ar.arg_id AS prev
    FROM params p
    JOIN callsx c ON c.callee_id = p.callee_id
    JOIN argsx ar ON ar.call_id = c.call_id AND ar.a_index = p.p_index
    UNION
    SELECT DISTINCT c.call_id, r.ret_id
    FROM callsx c JOIN rets r ON r.callee_id = c.callee_id
),
stepe AS (
    SELECT node_id, prev, 0 AS dd FROM rdback
    UNION ALL
    SELECT node_id, prev, 1 FROM interback
),
fl AS (
    SELECT node_id, node_id AS sink_id, 0 AS depth FROM sink_ids
    UNION
    SELECT s.prev, fl.sink_id, fl.depth + s.dd
    FROM fl JOIN stepe s ON s.node_id = fl.node_id
    WHERE fl.depth + s.dd <= 4
),
hit_sinks AS (
    SELECT DISTINCT fl.sink_id FROM fl JOIN lits l ON l.node_id = fl.node_id
),
q2 AS (
    SELECT 'literal-to-format-sink' AS name, n.doc_id, n.code AS finding_code
    FROM hit_sinks h JOIN n ON n.node_id = h.sink_id
),
-- q3: internal non-main methods with no incoming CALL edge
q3 AS (
    SELECT 'uncalled-internal-method' AS name, m.doc_id,
           m.code AS finding_code
    FROM n m
    WHERE m.kind = 'METHOD' AND m.is_external = false
      AND NOT regexp_matches(m.name, '^main')
      AND NOT EXISTS (
          SELECT 1 FROM e WHERE e.kind = 'CALL' AND e.dst = m.node_id
      )
),
-- q4: control structures nested >= 3 deep (transitive AST ancestors)
anc AS (
    SELECT dst AS node_id, src AS anc_id FROM e WHERE kind = 'AST'
    UNION
    SELECT a.node_id, e.src FROM anc a JOIN e ON e.kind = 'AST' AND e.dst = a.anc_id
),
cs AS (SELECT node_id, doc_id, code, method_id, ctrl_type FROM n
       WHERE kind = 'CONTROL_STRUCTURE'),
q4 AS (
    SELECT 'deeply-nested-control' AS name, doc_id, code AS finding_code
    FROM (
        SELECT DISTINCT c1.node_id, c1.doc_id, c1.code
        FROM cs c1
        JOIN anc a1 ON a1.node_id = c1.node_id
        JOIN cs c2 ON c2.node_id = a1.anc_id
        JOIN anc a2 ON a2.node_id = c2.node_id
        JOIN cs c3 ON c3.node_id = a2.anc_id
    )
),
-- ---- querydb ports (scan.py DEFAULT_BUNDLE queries 5-18) -----------------
-- shared dims: declaration types (the scan-side evalType) and arguments
declt AS (
    SELECT method_id, name, min(type_full_name) AS decl_type
    FROM n WHERE kind IN ('LOCAL', 'METHOD_PARAMETER_IN')
      AND type_full_name <> ''
    GROUP BY method_id, name
),
sargs AS (
    SELECT a.src AS call_id, a.dst AS arg_id, na.argument_index AS a_index,
           na.kind AS a_kind, na.name AS a_name, na.code AS a_code,
           na.method_id AS a_mid, na.type_full_name AS a_type
    FROM e a JOIN n na ON na.node_id = a.dst
    WHERE a.kind = 'ARGUMENT'
),
-- q5-q10: DangerousFunctions.scala call sites
q5 AS (SELECT 'call-to-gets' AS name, doc_id, code AS finding_code FROM n
       WHERE kind = 'CALL' AND regexp_matches(name, '(?i)^gets$')),
q6 AS (SELECT 'call-to-scanf', doc_id, code FROM n
       WHERE kind = 'CALL' AND regexp_matches(name, '(?i)^scanf$')),
q7 AS (SELECT 'call-to-strcat', doc_id, code FROM n
       WHERE kind = 'CALL' AND regexp_matches(name, '(?i)^(strcat|strncat)$')),
q8 AS (SELECT 'call-to-strcpy', doc_id, code FROM n
       WHERE kind = 'CALL' AND regexp_matches(name, '(?i)^(strcpy|strncpy)$')),
q9 AS (SELECT 'call-to-strtok', doc_id, code FROM n
       WHERE kind = 'CALL' AND regexp_matches(name, '(?i)^strtok$')),
q10 AS (SELECT 'call-to-getwd', doc_id, code FROM n
        WHERE kind = 'CALL' AND regexp_matches(name, '(?i)^getwd$')),
-- q11: format-controlled-printf (non-literal format operand)
q11 AS (
    SELECT 'format-controlled-printf' AS name, c.doc_id, c.code AS finding_code
    FROM n c WHERE c.kind = 'CALL' AND regexp_matches(c.name, '(?i)^printf$')
      AND NOT EXISTS (SELECT 1 FROM sargs a WHERE a.call_id = c.node_id
                      AND a.a_index = 1 AND a.a_kind = 'LITERAL')
    UNION ALL
    SELECT 'format-controlled-printf', c.doc_id, c.code
    FROM n c WHERE c.kind = 'CALL'
      AND regexp_matches(c.name, '(?i)^(sprintf|vsprintf)$')
      AND NOT EXISTS (SELECT 1 FROM sargs a WHERE a.call_id = c.node_id
                      AND a.a_index = 2 AND a.a_kind = 'LITERAL')
),
-- q12: signed-left-shift (SignedLeftShift.scala)
q12 AS (
    SELECT 'signed-left-shift' AS name, c.doc_id, c.code AS finding_code
    FROM n c
    JOIN sargs a1 ON a1.call_id = c.node_id AND a1.a_index = 1
    LEFT JOIN declt d ON d.method_id = a1.a_mid AND d.name = a1.a_name
    WHERE c.kind = 'CALL'
      AND c.name IN ('<operator>.shiftLeft', '<operator>.assignmentShiftLeft')
      AND (CASE WHEN a1.a_kind = 'LITERAL' THEN a1.a_type
                ELSE d.decl_type END) IN ('int', 'long')
      AND (SELECT count(*) FROM sargs a WHERE a.call_id = c.node_id
           AND a.a_index IN (1, 2) AND a.a_kind = 'LITERAL') <> 2
),
-- q13: strlen-truncation (IntegerTruncations.scala)
q13 AS (
    SELECT 'strlen-truncation' AS name, t.doc_id, t.code AS finding_code
    FROM (
        SELECT DISTINCT ta.arg_id AS target_id
        FROM sargs sa
        JOIN n sc ON sc.node_id = sa.arg_id AND sc.kind = 'CALL'
             AND regexp_matches(sc.name, '(?i)^strlen$')
        JOIN n ac ON ac.node_id = sa.call_id AND ac.name IN ({_ASSIGN_IN})
        JOIN sargs ta ON ta.call_id = sa.call_id AND ta.a_index = 1
             AND ta.a_kind = 'IDENTIFIER'
        JOIN declt d ON d.method_id = ta.a_mid AND d.name = ta.a_name
             AND regexp_matches(d.decl_type, '^(g?)int$')
    ) h JOIN n t ON t.node_id = h.target_id
),
-- dominator / post-dominator ancestor pairs (strict; DOMINATE = idom->node)
domup AS (
    SELECT dst AS node_id, src AS anc_id FROM e WHERE kind = 'DOMINATE'
    UNION
    SELECT d.node_id, e.src FROM domup d
    JOIN e ON e.kind = 'DOMINATE' AND e.dst = d.anc_id
),
pdup AS (
    SELECT dst AS node_id, src AS anc_id FROM e WHERE kind = 'POST_DOMINATE'
    UNION
    SELECT d.node_id, e.src FROM pdup d
    JOIN e ON e.kind = 'POST_DOMINATE' AND e.dst = d.anc_id
),
-- q14/q15: CredentialDrop.scala
q14 AS (
    SELECT 'setuid-without-setgid' AS name, c.doc_id, c.code AS finding_code
    FROM n c WHERE c.kind = 'CALL'
      AND regexp_matches(c.name, '(?i)^set(res|re|e|)uid$')
      AND NOT EXISTS (
          SELECT 1 FROM domup d JOIN n g ON g.node_id = d.anc_id
          WHERE d.node_id = c.node_id AND g.kind = 'CALL'
            AND regexp_matches(g.name, '(?i)^set(res|re|e|)?gid$'))
),
q15 AS (
    SELECT 'setgid-without-setgroups' AS name, c.doc_id, c.code AS finding_code
    FROM n c WHERE c.kind = 'CALL'
      AND regexp_matches(c.name, '(?i)^set(res|re|e|)gid$')
      AND NOT EXISTS (
          SELECT 1 FROM domup d JOIN n g ON g.node_id = d.anc_id
          WHERE d.node_id = c.node_id AND g.kind = 'CALL'
            AND regexp_matches(g.name, '^setgroups$'))
),
-- q16: copy-loop (CopyLoops.scala)
cl_acc AS (
    SELECT a.arg_id AS access_id FROM sargs a
    JOIN n c ON c.node_id = a.call_id AND c.name IN ({_ASSIGN_IN})
    WHERE a.a_index = 1 AND a.a_kind = 'CALL' AND a.a_name IN ({_ARRACC_IN})
),
cl_for AS (
    SELECT acc.access_id, anc.anc_id AS for_id
    FROM cl_acc acc JOIN anc ON anc.node_id = acc.access_id
    JOIN n f ON f.node_id = anc.anc_id AND f.kind = 'CONTROL_STRUCTURE'
         AND f.ctrl_type = 'FOR'
),
cl_kids AS (
    SELECT DISTINCT cf.for_id, e.dst AS kid_id
    FROM (SELECT DISTINCT for_id FROM cl_for) cf
    JOIN e ON e.kind = 'AST' AND e.src = cf.for_id
    JOIN n k ON k.node_id = e.dst AND k.kind <> 'BLOCK'
),
cl_asn_in_for AS (
    SELECT DISTINCT ck.for_id, a.node_id AS call_id
    FROM cl_kids ck
    JOIN (SELECT node_id, node_id AS anc_id FROM n WHERE name IN ({_ASSIGN_IN})
          UNION
          SELECT anc.node_id, anc.anc_id FROM anc
          JOIN n an ON an.node_id = anc.node_id
               AND an.name IN ({_ASSIGN_IN})) a
      ON a.anc_id = ck.kid_id
),
cl_inc AS (
    SELECT DISTINCT caf.for_id, ta.a_code AS inc_code
    FROM cl_asn_in_for caf
    JOIN sargs ta ON ta.call_id = caf.call_id AND ta.a_index = 1
),
q16 AS (
    SELECT 'copy-loop' AS name, arr.doc_id, arr.code AS finding_code
    FROM (
        SELECT DISTINCT aa.arg_id AS array_id
        FROM cl_for cf
        JOIN sargs sub ON sub.call_id = cf.access_id AND sub.a_index = 2
        JOIN cl_inc ci ON ci.for_id = cf.for_id AND ci.inc_code = sub.a_code
        JOIN sargs aa ON aa.call_id = cf.access_id AND aa.a_index = 1
    ) h JOIN n arr ON arr.node_id = h.array_id
),
-- q17: sql-injection (java/SQLInjection.scala) — same flow recursion as q2
si_src AS (
    SELECT p.node_id FROM n p
    JOIN n mr ON mr.kind = 'METHOD_RETURN'
         AND regexp_matches(mr.type_full_name, 'ModelAndView')
         AND mr.method_id = p.method_id
    WHERE p.kind = 'METHOD_PARAMETER_IN'
),
si_sink AS (
    SELECT p.node_id FROM n p
    JOIN n m ON m.kind = 'METHOD' AND regexp_matches(m.name, '^query$')
         AND m.node_id = p.method_id
    WHERE p.kind = 'METHOD_PARAMETER_IN' AND p."order" = 1
),
flq AS (
    SELECT node_id, node_id AS sink_id, 0 AS depth FROM si_sink
    UNION
    SELECT s.prev, flq.sink_id, flq.depth + s.dd
    FROM flq JOIN stepe s ON s.node_id = flq.node_id
    WHERE flq.depth + s.dd <= 4
),
q17 AS (
    SELECT 'sql-injection' AS name, n.doc_id, n.code AS finding_code
    FROM (SELECT DISTINCT flq.sink_id FROM flq
          JOIN si_src sp ON sp.node_id = flq.node_id) h
    JOIN n ON n.node_id = h.sink_id
),
-- q18: free-follows-value-reuse (UseAfterFree.scala freePostDominatesUsage)
fr_free AS (
    SELECT c.node_id AS call_id, a.a_code AS var_code
    FROM n c JOIN sargs a ON a.call_id = c.node_id AND a.a_index = 1
         AND a.a_kind = 'IDENTIFIER'
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^(.*_)?free$')
      AND (SELECT count(*) FROM sargs a2 WHERE a2.call_id = c.node_id) = 1
),
fr_uses AS (
    SELECT f.call_id AS start_id, p.anc_id AS use_id
    FROM fr_free f JOIN pdup p ON p.node_id = f.call_id
    JOIN n u ON u.node_id = p.anc_id AND u.kind = 'IDENTIFIER'
         AND u.code = f.var_code
),
fr_reasn AS (
    SELECT us.start_id, us.use_id
    FROM fr_uses us
    JOIN sargs ra ON ra.arg_id = us.use_id AND ra.a_index = 1
    JOIN n ac ON ac.node_id = ra.call_id AND ac.name IN ({_ASSIGN_IN})
),
fr_excl AS (
    SELECT start_id, use_id FROM fr_reasn
    UNION
    SELECT r.start_id, p2.anc_id AS use_id
    FROM fr_reasn r JOIN pdup p2 ON p2.node_id = r.use_id
),
q18 AS (
    SELECT 'free-follows-value-reuse' AS name, n.doc_id, n.code AS finding_code
    FROM (
        SELECT DISTINCT us.use_id FROM fr_uses us
        WHERE NOT EXISTS (SELECT 1 FROM fr_excl x
                          WHERE x.start_id = us.start_id
                            AND x.use_id = us.use_id)
    ) h JOIN n ON n.node_id = h.use_id
),
-- q19/q20: returnValueNotChecked (RetvalChecks.scala:12-27 via
-- QueryLangExtensions.scala:11-27; SocketApi.scala:14-31)
rvc AS (
    SELECT c.node_id, c.code AS c_code, c.method_id AS c_mid, c.doc_id,
           CASE WHEN regexp_matches(c.name, '(?i)^send$') THEN 'socket-send'
                ELSE 'unchecked-read-recv-malloc' END AS qname
    FROM n c WHERE c.kind = 'CALL'
      AND regexp_matches(c.name, '(?i)^(read|recv|malloc|send)$')
),
rvc_direct AS (
    SELECT DISTINCT r.node_id FROM rvc r
    JOIN anc a ON a.node_id = r.node_id
    JOIN e ce ON ce.kind = 'CONDITION' AND ce.src = a.anc_id
    JOIN n cn ON cn.node_id = ce.dst
    WHERE contains(cn.code, r.c_code)
),
rvc_ret AS (
    SELECT DISTINCT r.node_id FROM rvc r
    JOIN anc a ON a.node_id = r.node_id
    JOIN n rn ON rn.node_id = a.anc_id AND rn.kind = 'RETURN'
),
rvc_tgt AS (
    SELECT r.node_id, ta.a_code AS t_code, r.c_mid
    FROM rvc r
    JOIN sargs ra ON ra.arg_id = r.node_id AND ra.a_index = 2
    JOIN n ac ON ac.node_id = ra.call_id AND ac.name IN ({_ASSIGN_IN})
    JOIN sargs ta ON ta.call_id = ra.call_id AND ta.a_index = 1
),
rvc_cond_nodes AS (
    SELECT x.method_id,
           CASE WHEN x.kind = 'IDENTIFIER' THEN x.name ELSE x.code END
               AS chk_code
    FROM n x
    WHERE x.kind IN ('IDENTIFIER', 'CALL') AND (
        EXISTS (SELECT 1 FROM e ce WHERE ce.kind = 'CONDITION'
                AND ce.dst = x.node_id)
        OR EXISTS (SELECT 1 FROM anc a
                   JOIN e ce ON ce.kind = 'CONDITION' AND ce.dst = a.anc_id
                   WHERE a.node_id = x.node_id))
),
rvc_tgt_checked AS (
    SELECT DISTINCT t.node_id FROM rvc_tgt t
    JOIN rvc_cond_nodes cn ON cn.method_id = t.c_mid
         AND cn.chk_code = t.t_code
),
q19 AS (
    SELECT r.qname AS name, r.doc_id, r.c_code AS finding_code
    FROM rvc r
    WHERE r.node_id NOT IN (SELECT node_id FROM rvc_direct)
      AND r.node_id NOT IN (SELECT node_id FROM rvc_ret)
      AND r.node_id NOT IN (SELECT node_id FROM rvc_tgt_checked)
),
-- q21: file-operation-race (FileOpRace.scala:13-72)
fo_ops(op_name, op_idx) AS (VALUES
    ('access',1),('chdir',1),('chmod',1),('chown',1),('creat',1),
    ('faccessat',2),('fchmodat',2),('fopen',1),('fstatat',2),('lchown',1),
    ('linkat',2),('linkat',4),('link',1),('link',2),('lstat',1),
    ('mkdirat',2),('mkdir',1),('mkfifoat',2),('mkfifo',1),('mknodat',2),
    ('mknod',1),('openat',2),('open',1),('readlinkat',2),('readlink',1),
    ('renameat',2),('renameat',4),('rename',1),('rename',2),('rmdir',1),
    ('stat',1),('unlinkat',2),('unlink',1)),
fo_calls AS (
    SELECT c.node_id, c.method_id, a.a_code
    FROM n c
    JOIN fo_ops o ON o.op_name = c.name
    JOIN sargs a ON a.call_id = c.node_id AND a.a_index = o.op_idx
         AND a.a_kind <> 'LITERAL'
    WHERE c.kind = 'CALL'
),
q21 AS (
    SELECT 'file-operation-race' AS name, n.doc_id, n.code AS finding_code
    FROM (
        SELECT DISTINCT f.node_id FROM fo_calls f
        JOIN fo_calls g ON g.method_id = f.method_id
             AND g.a_code = f.a_code AND g.node_id <> f.node_id
    ) h JOIN n ON n.node_id = h.node_id
),
-- q22: call-to-exec (java/DangerousFunctions.scala:12-27)
q22 AS (
    SELECT 'call-to-exec' AS name, doc_id, code AS finding_code FROM n
    WHERE kind = 'CALL'
      AND regexp_matches(full_name, '^(java\\.lang\\.)?Runtime\\.exec$')
),
-- q23-q28: c/Metrics.scala (internal non-synthetic methods; reference
-- defaults 4/4/1000/1/4/3)
im AS (
    SELECT node_id, doc_id, code, line FROM n
    WHERE kind = 'METHOD' AND is_external = false
      AND NOT regexp_matches(name, '^(<global>|<module>|:program)$')
),
q23 AS (
    SELECT 'too-many-params' AS name, im.doc_id, im.code AS finding_code
    FROM im JOIN (SELECT method_id, count(*) AS k FROM n
                  WHERE kind = 'METHOD_PARAMETER_IN' GROUP BY method_id) p
         ON p.method_id = im.node_id
    WHERE p.k > 4
),
q24 AS (
    SELECT 'too-high-complexity' AS name, im.doc_id, im.code AS finding_code
    FROM im JOIN (SELECT method_id, count(*) AS k FROM cs
                  GROUP BY method_id) c ON c.method_id = im.node_id
    WHERE c.k > 4
),
q25 AS (
    SELECT 'too-long' AS name, im.doc_id, im.code AS finding_code
    FROM im JOIN (SELECT method_id, max(line) AS mx, min(line) AS mn FROM n
                  WHERE line IS NOT NULL GROUP BY method_id) s
         ON s.method_id = im.node_id
    WHERE greatest(s.mx, im.line) - least(s.mn, im.line) + 1 > 1000
),
q26 AS (
    SELECT 'multiple-returns' AS name, im.doc_id, im.code AS finding_code
    FROM im JOIN (SELECT method_id, count(*) AS k FROM n
                  WHERE kind = 'RETURN' GROUP BY method_id) r
         ON r.method_id = im.node_id
    WHERE r.k > 1
),
q27 AS (
    SELECT 'too-many-loops' AS name, im.doc_id, im.code AS finding_code
    FROM im JOIN (SELECT method_id, count(*) AS k FROM cs
                  WHERE ctrl_type IN ('FOR', 'DO', 'WHILE')
                  GROUP BY method_id) l ON l.method_id = im.node_id
    WHERE l.k > 4
),
q28 AS (
    SELECT 'too-nested' AS name, im.doc_id, im.code AS finding_code
    FROM im JOIN (
        SELECT DISTINCT c1.method_id
        FROM cs c1
        JOIN anc a1 ON a1.node_id = c1.node_id
        JOIN cs c2 ON c2.node_id = a1.anc_id
        JOIN anc a2 ON a2.node_id = c2.node_id
        JOIN cs c3 ON c3.node_id = a2.anc_id
        JOIN anc a3 ON a3.node_id = c3.node_id
        JOIN cs c4 ON c4.node_id = a3.anc_id
    ) d ON d.method_id = im.node_id
),
-- q29/q30: java/CryptographyMisuse.scala — the finding marks the SOURCE
-- literal (the reference's sink.reachableBy(source) return value); same
-- backward-flow recursion as q2/q17 over stepe
cr_sink1 AS (
    SELECT p.node_id FROM n p
    JOIN n m ON m.kind = 'METHOD' AND m.node_id = p.method_id
         AND regexp_matches(m.full_name,
                            '^(java\\.security\\.)?MessageDigest\\.getInstance')
    WHERE p.kind = 'METHOD_PARAMETER_IN'
),
flc1 AS (
    SELECT node_id, 0 AS depth FROM cr_sink1
    UNION
    SELECT s.prev, flc1.depth + s.dd
    FROM flc1 JOIN stepe s ON s.node_id = flc1.node_id
    WHERE flc1.depth + s.dd <= 4
),
q29 AS (
    SELECT 'unsafe-crypto-hash-algo' AS name, l.doc_id, l.code AS finding_code
    FROM (SELECT DISTINCT node_id FROM flc1) f
    JOIN n l ON l.node_id = f.node_id AND l.kind = 'LITERAL'
         AND regexp_matches(l.code, '^"(MD5|SHA-1)"$')
),
cr_sink2 AS (
    SELECT p.node_id FROM n p
    JOIN n m ON m.kind = 'METHOD' AND m.node_id = p.method_id
         AND regexp_matches(m.full_name,
                            '^(javax\\.crypto\\.spec\\.)?PBEKeySpec\\.<init>')
    WHERE p.kind = 'METHOD_PARAMETER_IN'
),
flc2 AS (
    SELECT node_id, 0 AS depth FROM cr_sink2
    UNION
    SELECT s.prev, flc2.depth + s.dd
    FROM flc2 JOIN stepe s ON s.node_id = flc2.node_id
    WHERE flc2.depth + s.dd <= 4
),
q30 AS (
    SELECT 'low-pbe-key-iterations' AS name, l.doc_id, l.code AS finding_code
    FROM (SELECT DISTINCT node_id FROM flc2) f
    JOIN n l ON l.node_id = f.node_id AND l.kind = 'LITERAL'
         AND regexp_matches(l.code, '^[0-9]+$')
         AND CAST(l.code AS BIGINT) < 1000
),
-- q31: malloc-memcpy-int-overflow (c/HeapBasedOverflow.scala:22-41) —
-- arithmetic malloc size assigned to a buffer flowing into memcpy arg 1
-- with a textually different length arg 3; flow = same stepe recursion,
-- backward from the memcpy dst arg to the malloc's assignment target
hb_mall AS (
    SELECT c.node_id AS m_id, a.a_code AS m_size_code
    FROM n c JOIN sargs a ON a.call_id = c.node_id AND a.a_index = 1
         AND a.a_kind = 'CALL' AND a.a_name IN ({_ARITH_IN})
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, 'malloc$')
),
hb_asn AS (
    SELECT r.arg_id AS m_id, t.arg_id AS t_id, t.a_code AS t_code
    FROM sargs r
    JOIN n ac ON ac.node_id = r.call_id AND ac.name IN ({_ASSIGN_IN})
    JOIN sargs t ON t.call_id = r.call_id AND t.a_index = 1
    WHERE r.a_index = 2
),
hb_mem AS (
    SELECT c.node_id AS mem_id, a1.arg_id AS a1_id, a1.a_code AS a1_code,
           a3.a_code AS a3_code
    FROM n c
    JOIN sargs a1 ON a1.call_id = c.node_id AND a1.a_index = 1
    JOIN sargs a3 ON a3.call_id = c.node_id AND a3.a_index = 3
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '(?i)^memcpy$')
),
hb_cand AS (
    SELECT m.mem_id, m.a1_id, t.t_id
    FROM hb_mem m
    JOIN hb_asn t ON t.t_code = m.a1_code
    JOIN hb_mall s ON s.m_id = t.m_id AND s.m_size_code <> m.a3_code
),
flh AS (
    SELECT a1_id AS sink_id, a1_id AS node_id, 0 AS depth FROM hb_cand
    UNION
    SELECT flh.sink_id, s.prev, flh.depth + s.dd
    FROM flh JOIN stepe s ON s.node_id = flh.node_id
    WHERE flh.depth + s.dd <= 4
),
q31 AS (
    SELECT 'malloc-memcpy-int-overflow' AS name, n.doc_id,
           n.code AS finding_code
    FROM (SELECT DISTINCT c.mem_id FROM hb_cand c
          JOIN flh ON flh.sink_id = c.a1_id AND flh.node_id = c.t_id) h
    JOIN n ON n.node_id = h.mem_id
),
-- q32: constant-array-access-no-check (c/MissingLengthCheck.scala:18-86);
-- same determinizations as the Spark port (exactly-one decimal literal
-- offsets; prefix compare instead of LIKE so '_' in names stays literal)
ml_acc AS (
    SELECT c.node_id AS acc_id, c.method_id AS m_id,
           a1.a_name AS arr_name, a1.a_code AS arr_code, a2.arg_id AS off_id,
           regexp_replace(lower(a1.a_name), 's$', '') AS base
    FROM n c
    JOIN sargs a1 ON a1.call_id = c.node_id AND a1.a_index = 1
         AND a1.a_kind = 'IDENTIFIER'
    JOIN sargs a2 ON a2.call_id = c.node_id AND a2.a_index = 2
    WHERE c.name IN ({_ARRACC_IN})
      AND NOT EXISTS (SELECT 1 FROM n l WHERE l.kind = 'LOCAL'
                      AND l.method_id = c.method_id AND l.name = a1.a_name)
),
ml_lit AS (
    SELECT node_id, code FROM n
    WHERE kind = 'LITERAL' AND regexp_matches(code, '^[0-9]+$')
),
ml_under AS (
    SELECT node_id AS root, code FROM ml_lit
    UNION ALL
    SELECT a.anc_id AS root, l.code FROM ml_lit l
    JOIN anc a ON a.node_id = l.node_id
),
ml_off AS (
    SELECT root AS off_id, CAST(min(code) AS BIGINT) AS idx
    FROM ml_under GROUP BY root HAVING count(*) = 1
),
ml_cand AS (
    SELECT acc.*, o.idx FROM ml_acc acc JOIN ml_off o ON o.off_id = acc.off_id
),
ml_lens AS (
    SELECT DISTINCT c.acc_id, d.name AS d_name
    FROM ml_cand c
    JOIN n d ON d.method_id = c.m_id
         AND d.kind IN ('LOCAL', 'METHOD_PARAMETER_IN')
    WHERE substr(lower(d.name), 1, length(c.base)) = c.base
      AND regexp_matches(substr(lower(d.name), length(c.base) + 1),
                         '^s?_?(len|siz)')
),
ml_cond AS (
    SELECT cs.method_id AS m_id, e.dst AS c_id, cn.code AS c_code
    FROM e JOIN n cs ON cs.node_id = e.src JOIN n cn ON cn.node_id = e.dst
    WHERE e.kind = 'CONDITION' AND cs.kind = 'CONTROL_STRUCTURE'
),
ml_ident_in AS (
    SELECT i.node_id AS root, i.name FROM n i WHERE i.kind = 'IDENTIFIER'
    UNION ALL
    SELECT a.anc_id AS root, i.name FROM n i
    JOIN anc a ON a.node_id = i.node_id
    WHERE i.kind = 'IDENTIFIER'
),
ml_chk AS (
    SELECT DISTINCT c.acc_id, cd.c_id
    FROM ml_cand c
    JOIN ml_lens lf ON lf.acc_id = c.acc_id
    JOIN ml_cond cd ON cd.m_id = c.m_id
    JOIN ml_ident_in ii ON ii.root = cd.c_id AND ii.name = lf.d_name
),
ml_bounds AS (
    SELECT k.acc_id, CAST(u.code AS BIGINT) AS bound
    FROM ml_chk k JOIN ml_under u ON u.root = k.c_id
    UNION ALL
    SELECT c.acc_id, 0 AS bound
    FROM ml_cand c JOIN ml_cond cd ON cd.m_id = c.m_id
         AND cd.c_code = c.arr_code
),
q32 AS (
    SELECT 'constant-array-access-no-check' AS name, n.doc_id,
           n.code AS finding_code
    FROM (
        SELECT DISTINCT c.acc_id FROM ml_cand c
        WHERE EXISTS (SELECT 1 FROM ml_lens lf WHERE lf.acc_id = c.acc_id)
          AND NOT EXISTS (SELECT 1 FROM ml_bounds b
                          WHERE b.acc_id = c.acc_id AND b.bound >= c.idx)
    ) h JOIN n ON n.node_id = h.acc_id
),
-- q37: strncpy-no-null-term (c/NullTermination.scala:18-49) — stepe flow
-- from the strncpy dst back to a malloc size argument with identical code,
-- minus methods that explicitly zero-terminate the same buffer
nt_sn AS (
    SELECT c.node_id AS call_id, c.method_id AS m_id,
           a1.arg_id AS dst_id, a1.a_code AS dst_code, a3.a_code AS size_code
    FROM n c
    JOIN sargs a1 ON a1.call_id = c.node_id AND a1.a_index = 1
    JOIN sargs a3 ON a3.call_id = c.node_id AND a3.a_index = 3
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '(?i)^strncpy$')
),
nt_msize AS (
    SELECT a.arg_id AS src_id, a.a_code AS src_code
    FROM n c JOIN sargs a ON a.call_id = c.node_id AND a.a_index = 1
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, 'malloc$')
),
flnt AS (
    SELECT dst_id AS sink_id, dst_id AS node_id, 0 AS depth FROM nt_sn
    UNION
    SELECT flnt.sink_id, s.prev, flnt.depth + s.dd
    FROM flnt JOIN stepe s ON s.node_id = flnt.node_id
    WHERE flnt.depth + s.dd <= 4
),
nt_hit AS (
    SELECT DISTINCT sn.m_id, sn.dst_id, sn.dst_code
    FROM nt_sn sn
    JOIN flnt f ON f.sink_id = sn.dst_id
    JOIN nt_msize ms ON ms.src_id = f.node_id
         AND ms.src_code = sn.size_code
),
nt_excl AS (
    SELECT DISTINCT ac.method_id AS m_id, ta.a_code AS dst_code
    FROM sargs t
    JOIN n ac ON ac.node_id = t.call_id AND ac.name IN ({_ASSIGN_IN})
    JOIN n tn ON tn.node_id = t.arg_id AND tn.kind = 'CALL'
         AND tn.name IN ({_ARRACC_IN})
    JOIN sargs sv ON sv.call_id = t.call_id AND sv.a_index = 2
         AND sv.a_kind = 'LITERAL' AND contains(sv.a_code, '0')
    JOIN sargs ta ON ta.call_id = t.arg_id AND ta.a_index = 1
    WHERE t.a_index = 1
),
q37 AS (
    SELECT 'strncpy-no-null-term' AS name, n.doc_id, n.code AS finding_code
    FROM (
        SELECT DISTINCT h.dst_id FROM nt_hit h
        WHERE NOT EXISTS (SELECT 1 FROM nt_excl x
                          WHERE x.m_id = h.m_id
                            AND x.dst_code = h.dst_code)
    ) hh JOIN n ON n.node_id = hh.dst_id
),
-- q35: ineffective-certificate-check (java/CertificateChecks.scala:14-60)
cc_valid AS (
    SELECT m.node_id FROM n m
    WHERE m.kind = 'METHOD' AND m.name = 'verify'
      AND EXISTS (SELECT 1 FROM n p WHERE p.kind = 'METHOD_PARAMETER_IN'
                  AND p.method_id = m.node_id
                  AND regexp_matches(p.type_full_name, 'SSLSession'))
    UNION
    SELECT m.node_id FROM n m
    WHERE m.kind = 'METHOD'
      AND m.name IN ('checkClientTrusted', 'checkServerTrusted')
      AND EXISTS (SELECT 1 FROM n p WHERE p.kind = 'METHOD_PARAMETER_IN'
                  AND p.method_id = m.node_id
                  AND regexp_matches(p.type_full_name, 'X509Certificate'))
),
cc_trivial AS (
    SELECT v.node_id FROM cc_valid v
    WHERE NOT EXISTS (SELECT 1 FROM n c WHERE c.kind = 'CONTROL_STRUCTURE'
                      AND c.method_id = v.node_id)
      AND NOT EXISTS (SELECT 1 FROM n c WHERE c.kind = 'CALL'
                      AND c.method_id = v.node_id
                      AND c.name NOT IN ({_ASSIGN_IN}))
      AND (SELECT count(*) FROM n r WHERE r.kind = 'RETURN'
           AND r.method_id = v.node_id) = 1
),
q35 AS (
    SELECT 'ineffective-certificate-check' AS name, n.doc_id,
           n.code AS finding_code
    FROM (
        SELECT r.node_id AS ret_id FROM n r
        JOIN cc_trivial t ON t.node_id = r.method_id
        WHERE r.kind = 'RETURN'
          AND NOT EXISTS (
              SELECT 1 FROM e a JOIN n k ON k.node_id = a.dst
              WHERE a.kind = 'AST' AND a.src = r.node_id
                AND (k.kind = 'CALL'
                     OR (k.kind = 'LITERAL'
                         AND k.code NOT IN ('true', '1'))))
    ) h JOIN n ON n.node_id = h.ret_id
),
-- q36: xss-servlet (java/CrossSiteScripting.scala:15-44) — parameter leg is
-- the stepe flow recursion; writer leg is the structural getWriter
-- assignment (engine DDG has no receiver def-use edge)
xs_getw AS (
    SELECT node_id, method_id FROM n WHERE kind = 'CALL'
      AND regexp_matches(full_name,
            '^(javax\\.servlet\\.http\\.)?HttpServletResponse\\.getWriter')
),
xs_wdef AS (
    SELECT DISTINCT t.a_name AS w_name, g.method_id AS m_id
    FROM sargs t
    JOIN n ac ON ac.node_id = t.call_id AND ac.name IN ({_ASSIGN_IN})
    JOIN sargs r ON r.call_id = t.call_id AND r.a_index = 2
    JOIN xs_getw g ON g.node_id = r.arg_id
    WHERE t.a_index = 1
),
xs_println AS (
    -- receivers hang off RECEIVER (not ARGUMENT) edges: read the receiver
    -- identifier row directly (argument_index 0 + parent call id)
    SELECT c.node_id AS call_id, a1.arg_id AS a1_id
    FROM n c
    JOIN n rv ON rv.kind = 'IDENTIFIER' AND rv.argument_index = 0
         AND rv.parent_id = c.node_id
    JOIN xs_wdef w ON w.m_id = c.method_id AND w.w_name = rv.name
    JOIN sargs a1 ON a1.call_id = c.node_id AND a1.a_index = 1
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.full_name, '^(java\\.io\\.)?PrintWriter\\.println')
),
flxa AS (
    SELECT a1_id AS sink_id, a1_id AS node_id, 0 AS depth FROM xs_println
    UNION
    SELECT flxa.sink_id, s.prev, flxa.depth + s.dd
    FROM flxa JOIN stepe s ON s.node_id = flxa.node_id
    WHERE flxa.depth + s.dd <= 4
),
q36 AS (
    SELECT 'xss-servlet' AS name, n.doc_id, n.code AS finding_code
    FROM (
        SELECT DISTINCT p.call_id FROM xs_println p
        JOIN flxa f ON f.sink_id = p.a1_id
        JOIN n g ON g.node_id = f.node_id AND g.kind = 'CALL'
             AND regexp_matches(g.full_name,
                   '^(javax\\.servlet\\.http\\.)?HttpServletRequest\\.getParameter')
    ) h JOIN n ON n.node_id = h.call_id
),
-- q33: usage-of-insecure-protocol (kotlin/NetworkProtocols.scala:13-29)
q33 AS (
    SELECT 'usage-of-insecure-protocol' AS name, n.doc_id,
           n.code AS finding_code
    FROM (SELECT DISTINCT c.node_id FROM n c
          JOIN sargs a ON a.call_id = c.node_id AND a.a_kind = 'LITERAL'
               AND regexp_matches(a.a_code, '^[^h]*http:.*')
          WHERE c.kind = 'CALL'
            AND regexp_matches(c.full_name, '^(java\\.net\\.)?URL\\.<init>')
    ) h JOIN n ON n.node_id = h.node_id
),
-- q34: fragment-injection (android/UnsafeReflection.scala:21-44) —
-- build.gradle config content scanned line-wise for targetSdk < 19
q34 AS (
    SELECT 'fragment-injection' AS name, n.doc_id, n.code AS finding_code
    FROM (
        SELECT DISTINCT cf.node_id
        FROM n cf, unnest(string_split(cf.code, chr(10))) AS t(ln)
        WHERE cf.kind = 'CONFIG_FILE'
          AND regexp_matches(cf.name, '.*build\\.gradle$')
          AND TRY_CAST(regexp_extract(t.ln,
                '^[^t]+targetSdk[^0-9]+([0-9]+)', 1) AS INT) < 19
    ) h JOIN n ON n.node_id = h.node_id
),
-- q38: call-to-strcpy-ghidra (ghidra/DangerousFunctions.scala:13-31) —
-- the binary pack's unanchored case-insensitive strcpy-family regex
q38 AS (
    SELECT 'call-to-strcpy-ghidra' AS name, doc_id, code AS finding_code
    FROM n WHERE kind = 'CALL' AND regexp_matches(name, '(?i)(strcpy|strncpy)')
),
-- q39: getenv-to-strcpy (ghidra/UserInputIntoDangerousFunctions.scala:21-33)
-- source = argument(2) of the CFG successor call of a getenv call; sink =
-- strcpy's source-buffer argument; recursion over the shared stepe edges
ge_src AS (
    SELECT DISTINCT a.arg_id AS node_id
    FROM n g
    JOIN e cfg ON cfg.kind = 'CFG' AND cfg.src = g.node_id
    JOIN n nx ON nx.node_id = cfg.dst AND nx.kind = 'CALL'
    JOIN sargs a ON a.call_id = nx.node_id AND a.a_index = 2
    WHERE g.kind = 'CALL' AND regexp_matches(g.name, '^getenv$')
),
ge_sink AS (
    SELECT DISTINCT a.arg_id AS node_id
    FROM n c JOIN sargs a ON a.call_id = c.node_id AND a.a_index = 2
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^strcpy$')
),
flge AS (
    SELECT node_id, node_id AS sink_id, 0 AS depth FROM ge_sink
    UNION
    SELECT s.prev, flge.sink_id, flge.depth + s.dd
    FROM flge JOIN stepe s ON s.node_id = flge.node_id
    WHERE flge.depth + s.dd <= 4
),
q39 AS (
    SELECT 'getenv-to-strcpy' AS name, n.doc_id, n.code AS finding_code
    FROM (SELECT DISTINCT flge.sink_id FROM flge
          JOIN ge_src sp ON sp.node_id = flge.node_id) h
    JOIN n ON n.node_id = h.sink_id
),
-- q40/q41: php pack (php/SQLInjection.scala:15-38, ShellExec.scala:15-38) —
-- shared superglobal source, receiver-ful query() / shell_exec() sinks
php_src AS (
    SELECT DISTINCT a.arg_id AS node_id
    FROM n c JOIN sargs a ON a.call_id = c.node_id
    WHERE c.kind = 'CALL' AND c.name IN ({_ASSIGN_IN})
      AND regexp_matches(a.a_code, '.*_(REQUEST|GET|POST).*')
),
php_q_sink AS (
    SELECT DISTINCT a.arg_id AS node_id
    FROM n c
    JOIN e r ON r.kind = 'RECEIVER' AND r.src = c.node_id
    JOIN sargs a ON a.call_id = c.node_id
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^query$')
),
php_x_sink AS (
    SELECT DISTINCT a.arg_id AS node_id
    FROM n c JOIN sargs a ON a.call_id = c.node_id
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^shell_exec$')
),
flpq AS (
    SELECT node_id, node_id AS sink_id, 0 AS depth FROM php_q_sink
    UNION
    SELECT s.prev, flpq.sink_id, flpq.depth + s.dd
    FROM flpq JOIN stepe s ON s.node_id = flpq.node_id
    WHERE flpq.depth + s.dd <= 4
),
flpx AS (
    SELECT node_id, node_id AS sink_id, 0 AS depth FROM php_x_sink
    UNION
    SELECT s.prev, flpx.sink_id, flpx.depth + s.dd
    FROM flpx JOIN stepe s ON s.node_id = flpx.node_id
    WHERE flpx.depth + s.dd <= 4
),
q40 AS (
    SELECT 'php-sql-injection' AS name, n.doc_id, n.code AS finding_code
    FROM (SELECT DISTINCT flpq.sink_id FROM flpq
          JOIN php_src sp ON sp.node_id = flpq.node_id) h
    JOIN n ON n.node_id = h.sink_id
),
q41 AS (
    SELECT 'shell-exec' AS name, n.doc_id, n.code AS finding_code
    FROM (SELECT DISTINCT flpx.sink_id FROM flpx
          JOIN php_src sp ON sp.node_id = flpx.node_id) h
    JOIN n ON n.node_id = h.sink_id
),
-- q42: root-detection-via-file-checks (android/RootDetection.scala:16-33) —
-- superuser-suffix path literal reaching an exists() receiver; finding =
-- the enclosing method, kept only when that method has a caller
rd_lit AS (
    SELECT node_id FROM n
    WHERE kind = 'LITERAL' AND contains(code, '/')
      AND regexp_matches(regexp_replace(code, '["'']+$', ''),
                         '(Superuser\\.apk|superuser\\.apk|/su)$')
),
-- receiver use is modeled at the call node: sink on the exists call itself
rd_sink AS (
    SELECT DISTINCT c.node_id, c.method_id AS m_id
    FROM n c
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^exists$')
),
flrd AS (
    SELECT node_id, node_id AS sink_id, 0 AS depth FROM rd_sink
    UNION
    SELECT s.prev, flrd.sink_id, flrd.depth + s.dd
    FROM flrd JOIN stepe s ON s.node_id = flrd.node_id
    WHERE flrd.depth + s.dd <= 4
),
q42 AS (
    SELECT 'root-detection-via-file-checks' AS name, m.doc_id,
           m.code AS finding_code
    FROM (
        SELECT DISTINCT rs.m_id
        FROM flrd JOIN rd_lit l ON l.node_id = flrd.node_id
        JOIN rd_sink rs ON rs.node_id = flrd.sink_id
    ) h
    JOIN n m ON m.node_id = h.m_id
    WHERE EXISTS (SELECT 1 FROM e WHERE e.kind = 'CALL' AND e.dst = h.m_id)
),
-- q43: manifest-backup-enabled (android/Misconfigurations.scala:13-90) —
-- allowBackup="true" inside the <application ...> open tag
q43 AS (
    SELECT 'manifest-backup-enabled' AS name, doc_id, code AS finding_code
    FROM n
    WHERE kind = 'CONFIG_FILE'
      AND regexp_matches(name, '.*AndroidManifest\\.xml$')
      AND regexp_matches(
            regexp_extract(code, '<application\\b([^>]*)>', 1, 's'),
            'android:allowBackup\\s*=\\s*"true"')
),
-- q44: tap-jacking (android/Misconfigurations.scala:92-178) — targetSdk < 23
q44 AS (
    SELECT 'tap-jacking' AS name, n.doc_id, n.code AS finding_code
    FROM (
        SELECT DISTINCT cf.node_id
        FROM n cf, unnest(string_split(cf.code, chr(10))) AS t(ln)
        WHERE cf.kind = 'CONFIG_FILE'
          AND regexp_matches(cf.name, '.*build\\.gradle$')
          AND TRY_CAST(regexp_extract(t.ln,
                '^[^t]+targetSdk[^0-9]+([0-9]+)', 1) AS INT) < 23
    ) h JOIN n ON n.node_id = h.node_id
),
-- q45: vuln-prng-android-v16_18 (android/Misconfigurations.scala:180-227) —
-- minSdk in [16,18] gradle files, reported only when the corpus shows PRNG
-- use (default SecureRandom() or a PRNG literal reaching getInstance)
prng_lit AS (
    SELECT node_id FROM n
    WHERE kind = 'LITERAL' AND regexp_matches(code, '".*PRNG.*"')
),
prng_sink AS (
    SELECT node_id FROM n
    WHERE kind = 'CALL'
      AND regexp_matches(code, '.*SecureRandom.getInstance.*')
),
flpr AS (
    SELECT node_id, node_id AS sink_id, 0 AS depth FROM prng_sink
    UNION
    SELECT s.prev, flpr.sink_id, flpr.depth + s.dd
    FROM flpr JOIN stepe s ON s.node_id = flpr.node_id
    WHERE flpr.depth + s.dd <= 4
),
prng_evidence AS (
    -- existence probe; DISTINCT caps it at one row (DuckDB disallows LIMIT
    -- inside a WITH RECURSIVE chain)
    SELECT DISTINCT 1 AS one FROM (
        SELECT 1 AS hit FROM n c
        WHERE c.kind = 'CALL'
          AND regexp_matches(c.full_name, 'SecureRandom\\.<init>')
          AND NOT EXISTS (SELECT 1 FROM sargs a WHERE a.call_id = c.node_id)
        UNION ALL
        SELECT 1 FROM flpr JOIN prng_lit l ON l.node_id = flpr.node_id
    ) u
),
q45 AS (
    SELECT 'vuln-prng-android-v16_18' AS name, n.doc_id, n.code AS finding_code
    FROM (
        SELECT DISTINCT cf.node_id
        FROM n cf, unnest(string_split(cf.code, chr(10))) AS t(ln)
        WHERE cf.kind = 'CONFIG_FILE'
          AND regexp_matches(cf.name, '.*build\\.gradle$')
          AND TRY_CAST(regexp_extract(t.ln,
                '^[^t]+minSdk[^0-9]+([0-9]+)', 1) AS INT) BETWEEN 16 AND 18
    ) h
    JOIN n ON n.node_id = h.node_id
    CROSS JOIN prng_evidence
),
-- q46: intent-redirection (android/UnprotectedAppParts.scala:16-33) —
-- Intent getParcelableExtra result reaching an unguarded startActivity arg;
-- finding marks the SOURCE call
ir_src AS (
    SELECT node_id FROM n
    WHERE kind = 'CALL' AND regexp_matches(name, '^getParcelableExtra$')
      AND regexp_matches(code, '.*Intent.*')
),
ir_ctl AS (
    SELECT node_id FROM n WHERE kind = 'CONTROL_STRUCTURE'
    UNION
    SELECT a.dst FROM e a JOIN n p ON p.node_id = a.src
    WHERE a.kind = 'AST' AND p.kind = 'CONTROL_STRUCTURE'
),
ir_sink AS (
    SELECT DISTINCT a.arg_id AS node_id
    FROM n c JOIN sargs a ON a.call_id = c.node_id
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^startActivity$')
      AND NOT EXISTS (
          SELECT 1 FROM e cd JOIN ir_ctl t ON t.node_id = cd.src
          WHERE cd.kind = 'CDG' AND cd.dst = c.node_id)
),
flir AS (
    SELECT node_id, node_id AS sink_id, 0 AS depth FROM ir_sink
    UNION
    SELECT s.prev, flir.sink_id, flir.depth + s.dd
    FROM flir JOIN stepe s ON s.node_id = flir.node_id
    WHERE flir.depth + s.dd <= 4
),
q46 AS (
    SELECT 'intent-redirection' AS name, n.doc_id, n.code AS finding_code
    FROM (SELECT DISTINCT sp.node_id FROM flir
          JOIN ir_src sp ON sp.node_id = flir.node_id) h
    JOIN n ON n.node_id = h.node_id
),
-- q47: unzip-directory-traversal (kotlin/PathTraversals.scala:16-41) —
-- ZipEntry-typed parameter never startsWith-checked, reaching a
-- FileOutputStream constructor argument
uz_param AS (
    SELECT node_id FROM n WHERE kind = 'METHOD_PARAMETER_IN'
      AND regexp_matches(type_full_name, '(^|\\.)(ArchiveEntry|ZipEntry)$')
),
-- receiver use is modeled at the call node: the guard sink is the call
uz_sw AS (
    SELECT DISTINCT c.node_id
    FROM n c
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^startsWith$')
),
fluzg AS (
    SELECT node_id, node_id AS sink_id, 0 AS depth FROM uz_sw
    UNION
    SELECT s.prev, fluzg.sink_id, fluzg.depth + s.dd
    FROM fluzg JOIN stepe s ON s.node_id = fluzg.node_id
    WHERE fluzg.depth + s.dd <= 4
),
uz_unchecked AS (
    -- anti-join instead of EXCEPT: DuckDB only allows UNION [ALL] set ops
    -- on CTEs inside a WITH RECURSIVE chain
    SELECT p0.node_id FROM uz_param p0
    WHERE NOT EXISTS (
        SELECT 1 FROM fluzg WHERE fluzg.node_id = p0.node_id
    )
),
uz_fos AS (
    SELECT a.call_id, a.arg_id
    FROM sargs a JOIN n c ON c.node_id = a.call_id
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.full_name, '(^|\\.)FileOutputStream\\.<init>')
),
fluzs AS (
    SELECT arg_id AS node_id, arg_id AS sink_id, 0 AS depth FROM uz_fos
    UNION
    SELECT s.prev, fluzs.sink_id, fluzs.depth + s.dd
    FROM fluzs JOIN stepe s ON s.node_id = fluzs.node_id
    WHERE fluzs.depth + s.dd <= 4
),
q47 AS (
    SELECT 'unzip-directory-traversal' AS name, n.doc_id,
           n.code AS finding_code
    FROM (SELECT DISTINCT f.call_id FROM fluzs
          JOIN uz_unchecked u ON u.node_id = fluzs.node_id
          JOIN uz_fos f ON f.arg_id = fluzs.sink_id) h
    JOIN n ON n.node_id = h.call_id
),
-- q48: usage-of-nop-trust-manager (kotlin/NetworkCommunication.scala:20-46)
ntm_td AS (
    SELECT td.node_id AS td_id, td.name AS td_name, td.full_name AS td_full
    FROM n td
    JOIN e i ON i.kind = 'INHERITS_FROM' AND i.src = td.node_id
    JOIN n s ON s.node_id = i.dst AND s.kind IN ('TYPE', 'TYPE_DECL')
         AND regexp_matches(s.full_name, '(^|\\.)X509TrustManager$')
    WHERE td.kind = 'TYPE_DECL' AND td.is_external = false
),
ntm_empty AS (
    SELECT m.node_id AS m_id FROM n m
    JOIN n b ON b.kind = 'BLOCK' AND b.method_id = m.node_id
    WHERE m.kind = 'METHOD'
      AND m.name IN ('checkClientTrusted', 'checkServerTrusted')
      AND NOT EXISTS (SELECT 1 FROM e a
                      WHERE a.kind = 'AST' AND a.src = b.node_id)
),
ntm_nop AS (
    SELECT DISTINCT t.td_name, t.td_full
    FROM ntm_td t
    JOIN e a ON a.kind = 'AST' AND a.src = t.td_id
    JOIN ntm_empty em ON em.m_id = a.dst
),
ntm_alloc AS (
    SELECT c.node_id FROM n c
    JOIN ntm_nop t ON c.type_full_name = t.td_name
                   OR c.type_full_name = t.td_full
    WHERE c.kind = 'CALL' AND regexp_matches(c.full_name, '\\.<init>$')
),
ntm_sink AS (
    SELECT a.call_id, a.arg_id
    FROM sargs a JOIN n c ON c.node_id = a.call_id
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.full_name, '(^|\\.)SSLContext\\.init$')
      AND a.a_index = 2
),
flntm AS (
    SELECT arg_id AS node_id, arg_id AS sink_id, 0 AS depth FROM ntm_sink
    UNION
    SELECT s.prev, flntm.sink_id, flntm.depth + s.dd
    FROM flntm JOIN stepe s ON s.node_id = flntm.node_id
    WHERE flntm.depth + s.dd <= 4
),
q48 AS (
    SELECT 'usage-of-nop-trust-manager' AS name, n.doc_id,
           n.code AS finding_code
    FROM (SELECT DISTINCT k.call_id FROM flntm
          JOIN ntm_alloc al ON al.node_id = flntm.node_id
          JOIN ntm_sink k ON k.arg_id = flntm.sink_id) h
    JOIN n ON n.node_id = h.call_id
),
-- q49: broadcast-to-file-write (android/ArbitraryFileWrites.scala:18-37) —
-- exported receiver onReceive intent param into FileOutputStream.write
bm_exported AS (
    SELECT DISTINCT regexp_replace(regexp_extract(t.el,
             'android:name\\s*=\\s*"([^"]+)"', 1), '^\\.', '') AS cls_name
    FROM n cf, unnest(regexp_extract_all(cf.code, '<receiver\\b[^>]*>', 0))
         AS t(el)
    WHERE cf.kind = 'CONFIG_FILE'
      AND regexp_matches(cf.name, '.*AndroidManifest\\.xml$')
      AND regexp_matches(t.el, 'android:exported\\s*=\\s*"true"')
),
bm_src AS (
    SELECT p.node_id FROM n p
    JOIN n m ON m.node_id = p.method_id AND m.kind = 'METHOD'
         AND m.name = 'onReceive'
    JOIN e a ON a.kind = 'AST' AND a.dst = p.method_id
    JOIN n td ON td.node_id = a.src AND td.kind = 'TYPE_DECL'
    JOIN bm_exported x ON x.cls_name = td.name
    WHERE p.kind = 'METHOD_PARAMETER_IN' AND p."order" = 2
),
bm_sink AS (
    SELECT a.call_id, a.arg_id
    FROM sargs a JOIN n c ON c.node_id = a.call_id
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.full_name, '(^|\\.)FileOutputStream\\.write$')
),
flbm AS (
    SELECT arg_id AS node_id, arg_id AS sink_id, 0 AS depth FROM bm_sink
    UNION
    SELECT s.prev, flbm.sink_id, flbm.depth + s.dd
    FROM flbm JOIN stepe s ON s.node_id = flbm.node_id
    WHERE flbm.depth + s.dd <= 4
),
q49 AS (
    SELECT 'broadcast-to-file-write' AS name, n.doc_id, n.code AS finding_code
    FROM (SELECT DISTINCT k.call_id FROM flbm
          JOIN bm_src sp ON sp.node_id = flbm.node_id
          JOIN bm_sink k ON k.arg_id = flbm.sink_id) h
    JOIN n ON n.node_id = h.call_id
),
-- q50: intent-to-runtime-exec (android/Intents.scala:16-34) — getIntent in
-- a manifest-exported activity reaching a Runtime.exec argument
ia_exported AS (
    SELECT DISTINCT regexp_replace(regexp_extract(t.el,
             'android:name\\s*=\\s*"([^"]+)"', 1), '^\\.', '') AS cls_name
    FROM n cf, unnest(regexp_extract_all(cf.code, '<activity\\b[^>]*>', 0))
         AS t(el)
    WHERE cf.kind = 'CONFIG_FILE'
      AND regexp_matches(cf.name, '.*AndroidManifest\\.xml$')
      AND regexp_matches(t.el, 'android:exported\\s*=\\s*"true"')
),
ia_src AS (
    SELECT c.node_id FROM n c
    JOIN e a ON a.kind = 'AST' AND a.dst = c.method_id
    JOIN n td ON td.node_id = a.src AND td.kind = 'TYPE_DECL'
    JOIN ia_exported x ON x.cls_name = td.name
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^getIntent$')
),
ia_sink AS (
    SELECT a.call_id, a.arg_id
    FROM sargs a JOIN n c ON c.node_id = a.call_id
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.full_name, '^(java\\.lang\\.)?Runtime\\.exec$')
),
flia AS (
    SELECT arg_id AS node_id, arg_id AS sink_id, 0 AS depth FROM ia_sink
    UNION
    SELECT s.prev, flia.sink_id, flia.depth + s.dd
    FROM flia JOIN stepe s ON s.node_id = flia.node_id
    WHERE flia.depth + s.dd <= 4
),
q50 AS (
    SELECT 'intent-to-runtime-exec' AS name, n.doc_id, n.code AS finding_code
    FROM (SELECT DISTINCT k.call_id FROM flia
          JOIN ia_src sp ON sp.node_id = flia.node_id
          JOIN ia_sink k ON k.arg_id = flia.sink_id) h
    JOIN n ON n.node_id = h.call_id
),
-- q51: external-storage-to-dex-classloader (android/ExternalStorage.scala:
-- 17-47) — three chained flows gated on the manifest permission
xd_perm AS (
    SELECT DISTINCT 1 AS one FROM n
    WHERE kind = 'CONFIG_FILE'
      AND regexp_matches(name, '.*AndroidManifest\\.xml$')
      AND contains(code, 'android.permission.READ_EXTERNAL_STORAGE')
),
xd_ext AS (
    SELECT c.node_id FROM n c CROSS JOIN xd_perm
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.name, '^getExternalStorage(Public)?Director(y|ies)$')
),
xd_dex AS (
    SELECT a.call_id, a.arg_id
    FROM sargs a JOIN n c ON c.node_id = a.call_id
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.full_name, '(^|\\.)DexClassLoader\\.<init>')
      AND a.a_index = 1
),
flxd1 AS (
    SELECT arg_id AS node_id, arg_id AS sink_id, 0 AS depth FROM xd_dex
    UNION
    SELECT s.prev, flxd1.sink_id, flxd1.depth + s.dd
    FROM flxd1 JOIN stepe s ON s.node_id = flxd1.node_id
    WHERE flxd1.depth + s.dd <= 4
),
xd_tainted_init AS (
    SELECT DISTINCT d.call_id AS node_id FROM flxd1
    JOIN xd_ext sp ON sp.node_id = flxd1.node_id
    JOIN xd_dex d ON d.arg_id = flxd1.sink_id
),
-- receiver use is modeled at the call node: loadClass calls are the sinks
xd_lc AS (
    SELECT c.node_id AS call_id
    FROM n c
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^loadClass$')
),
flxd2 AS (
    SELECT call_id AS node_id, call_id AS sink_id, 0 AS depth FROM xd_lc
    UNION
    SELECT s.prev, flxd2.sink_id, flxd2.depth + s.dd
    FROM flxd2 JOIN stepe s ON s.node_id = flxd2.node_id
    WHERE flxd2.depth + s.dd <= 4
),
xd_tainted_load AS (
    SELECT DISTINCT flxd2.sink_id AS node_id FROM flxd2
    JOIN xd_tainted_init ti ON ti.node_id = flxd2.node_id
),
xd_inv AS (
    SELECT a.call_id, a.arg_id
    FROM sargs a JOIN n c ON c.node_id = a.call_id
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.full_name, '(^|\\.)Method\\.invoke$')
      AND a.a_index = 1
),
flxd3 AS (
    SELECT arg_id AS node_id, arg_id AS sink_id, 0 AS depth FROM xd_inv
    UNION
    SELECT s.prev, flxd3.sink_id, flxd3.depth + s.dd
    FROM flxd3 JOIN stepe s ON s.node_id = flxd3.node_id
    WHERE flxd3.depth + s.dd <= 4
),
q51 AS (
    SELECT 'external-storage-to-dex-classloader' AS name, n.doc_id,
           n.code AS finding_code
    FROM (SELECT DISTINCT i.call_id FROM flxd3
          JOIN xd_tainted_load tl ON tl.node_id = flxd3.node_id
          JOIN xd_inv i ON i.arg_id = flxd3.sink_id) h
    JOIN n ON n.node_id = h.call_id
),
-- q52: insecure-load-url-to-exec (android/JavaScriptInterface.scala:18-50)
wv_clear AS (
    SELECT DISTINCT 1 AS one FROM n
    WHERE kind = 'CONFIG_FILE'
      AND regexp_matches(name, '.*AndroidManifest\\.xml$')
      AND regexp_matches(code, 'android:usesCleartextTraffic\\s*=\\s*"true"')
),
wv_js_on AS (
    SELECT DISTINCT c.method_id AS m_id FROM n c
    JOIN sargs a ON a.call_id = c.node_id AND a.a_kind = 'LITERAL'
         AND a.a_code IN ('true', '1')
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^setJavaScriptEnabled$')
),
wv_http AS (
    SELECT node_id FROM n
    WHERE kind = 'LITERAL'
      AND starts_with(regexp_replace(code, '^["'']', ''), 'http:')
),
wv_lu AS (
    SELECT c.method_id AS m_id, a.arg_id
    FROM n c JOIN sargs a ON a.call_id = c.node_id
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^loadUrl$')
),
flwv1 AS (
    SELECT arg_id AS node_id, arg_id AS sink_id, 0 AS depth FROM wv_lu
    UNION
    SELECT s.prev, flwv1.sink_id, flwv1.depth + s.dd
    FROM flwv1 JOIN stepe s ON s.node_id = flwv1.node_id
    WHERE flwv1.depth + s.dd <= 4
),
wv_insec_m AS (
    SELECT DISTINCT lu.m_id FROM flwv1
    JOIN wv_http h ON h.node_id = flwv1.node_id
    JOIN wv_lu lu ON lu.arg_id = flwv1.sink_id
    JOIN wv_js_on j ON j.m_id = lu.m_id
),
wv_types AS (
    SELECT DISTINCT d.decl_type AS td_name
    FROM n c
    JOIN wv_insec_m m ON m.m_id = c.method_id
    JOIN sargs a ON a.call_id = c.node_id AND a.a_index = 1
    JOIN n i ON i.node_id = a.arg_id AND i.kind = 'IDENTIFIER'
    JOIN declt d ON d.method_id = i.method_id AND d.name = i.name
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.name, '^addJavascriptInterface$')
),
wv_exposed AS (
    SELECT p.node_id FROM n p
    JOIN n an ON an.kind = 'ANNOTATION' AND an.method_id = p.method_id
         AND regexp_matches(an.name, '(^|\\.)JavascriptInterface$')
    JOIN e a ON a.kind = 'AST' AND a.dst = p.method_id
    JOIN n td ON td.node_id = a.src AND td.kind = 'TYPE_DECL'
    JOIN wv_types t ON t.td_name = td.name
    WHERE p.kind = 'METHOD_PARAMETER_IN'
),
wv_exec AS (
    SELECT a.call_id, a.arg_id
    FROM sargs a JOIN n c ON c.node_id = a.call_id
    WHERE c.kind = 'CALL'
      AND regexp_matches(c.full_name, '^(java\\.lang\\.)?Runtime\\.exec$')
),
flwv2 AS (
    SELECT arg_id AS node_id, arg_id AS sink_id, 0 AS depth FROM wv_exec
    UNION
    SELECT s.prev, flwv2.sink_id, flwv2.depth + s.dd
    FROM flwv2 JOIN stepe s ON s.node_id = flwv2.node_id
    WHERE flwv2.depth + s.dd <= 4
),
q52 AS (
    SELECT 'insecure-load-url-to-exec' AS name, n.doc_id,
           n.code AS finding_code
    FROM (SELECT DISTINCT x.call_id FROM flwv2
          JOIN wv_exposed p ON p.node_id = flwv2.node_id
          JOIN wv_exec x ON x.arg_id = flwv2.sink_id
          CROSS JOIN wv_clear) h
    JOIN n ON n.node_id = h.call_id
),
-- q53: free-field-no-reassign (UseAfterFree.scala:16-53) — free(param->f)
-- where the whole struct is not freed/cleared and the access reaches the
-- method return through the DDG
ffn_cand AS (
    SELECT fa.node_id AS arg_id, fa.method_id AS fa_mid, st.a_code AS s_code
    FROM n fc
    JOIN sargs a ON a.call_id = fc.node_id AND a.a_index = 1
    JOIN n fa ON fa.node_id = a.arg_id AND fa.kind = 'CALL'
         AND regexp_matches(fa.name, '^<operator>\\..*[fF]ieldAccess.*$')
    JOIN sargs st ON st.call_id = fa.node_id AND st.a_index = 1
    JOIN (SELECT DISTINCT method_id, name FROM n
          WHERE kind = 'METHOD_PARAMETER_IN') p
         ON p.method_id = fa.method_id AND p.name = st.a_code
    WHERE fc.kind = 'CALL' AND regexp_matches(fc.name, '^free$')
      AND NOT EXISTS (
          SELECT 1 FROM n cc
          JOIN sargs ca ON ca.call_id = cc.node_id AND ca.a_index = 1
          WHERE cc.kind = 'CALL' AND cc.method_id = fa.method_id
            AND regexp_matches(cc.name, '^((.*free)|memset|bzero)$')
            AND ca.a_code = st.a_code
      )
),
ffn_ret AS (
    SELECT node_id AS sink_id, method_id AS fa_mid FROM n
    WHERE kind = 'METHOD_RETURN'
),
flffn AS (
    SELECT sink_id AS node_id, sink_id, 0 AS depth FROM ffn_ret
    UNION
    SELECT s.prev, flffn.sink_id, flffn.depth + s.dd
    FROM flffn JOIN stepe s ON s.node_id = flffn.node_id
    WHERE flffn.depth + s.dd <= 4
),
q53 AS (
    SELECT 'free-field-no-reassign' AS name, n.doc_id, n.code AS finding_code
    FROM (SELECT DISTINCT c.arg_id FROM flffn
          JOIN ffn_cand c ON c.arg_id = flffn.node_id
          JOIN ffn_ret r ON r.sink_id = flffn.sink_id
               AND r.fa_mid = c.fa_mid) h
    JOIN n ON n.node_id = h.arg_id
),
-- q54: free-returned-value (UseAfterFree.scala:82-139) — local stored into
-- an out-param pointee, later free'd at a site the store dominates;
-- refsTo modeled as same-method same-name identifiers
frv_pw AS (
    SELECT DISTINCT a.a_mid AS method_id, a.a_name AS name
    FROM sargs a JOIN n c ON c.node_id = a.call_id
    WHERE a.a_kind = 'IDENTIFIER' AND a.a_index = 1
      AND c.name IN ('<operator>.assignment', '<operator>.addressOf')
),
frv_op AS (
    SELECT p.method_id, p.name FROM n p
    WHERE p.kind = 'METHOD_PARAMETER_IN'
      AND regexp_matches(p.code, '.+\\*.+')
      AND NOT EXISTS (SELECT 1 FROM frv_pw w
                      WHERE w.method_id = p.method_id AND w.name = p.name)
),
frv_deref AS (
    SELECT DISTINCT a.call_id AS access_id
    FROM sargs a
    JOIN n c ON c.node_id = a.call_id
         AND c.name IN ('<operator>.indirectFieldAccess',
                        '<operator>.indirection',
                        '<operator>.indirectIndexAccess')
    JOIN frv_op p ON p.method_id = a.a_mid AND p.name = a.a_name
    WHERE a.a_kind = 'IDENTIFIER' AND a.a_index = 1
),
frv_x AS (
    SELECT v.arg_id AS node_id, v.a_mid AS method_id, v.a_name AS name
    FROM sargs st
    JOIN n asn ON asn.node_id = st.call_id
         AND asn.name = '<operator>.assignment'
    JOIN frv_deref d ON d.access_id = st.arg_id
    JOIN sargs v ON v.call_id = st.call_id AND v.a_index = 2
         AND v.a_kind = 'IDENTIFIER'
    WHERE st.a_index = 1
),
frv_free AS (
    SELECT a.call_id AS free_id, a.a_mid AS method_id, a.a_name AS name
    FROM sargs a JOIN n c ON c.node_id = a.call_id
    WHERE c.kind = 'CALL' AND regexp_matches(c.name, '^(.*_)?free$')
      AND a.a_kind = 'IDENTIFIER'
),
q54 AS (
    SELECT 'free-returned-value' AS name, n.doc_id, n.code AS finding_code
    FROM (SELECT DISTINCT x.node_id
          FROM frv_x x
          JOIN frv_free f ON f.method_id = x.method_id AND f.name = x.name
          JOIN domup d ON d.node_id = f.free_id AND d.anc_id = x.node_id) h
    JOIN n ON n.node_id = h.node_id
)
SELECT * FROM q1 UNION ALL SELECT * FROM q2
UNION ALL SELECT * FROM q3 UNION ALL SELECT * FROM q4
UNION ALL SELECT * FROM q5 UNION ALL SELECT * FROM q6
UNION ALL SELECT * FROM q7 UNION ALL SELECT * FROM q8
UNION ALL SELECT * FROM q9 UNION ALL SELECT * FROM q10
UNION ALL SELECT * FROM q11 UNION ALL SELECT * FROM q12
UNION ALL SELECT * FROM q13 UNION ALL SELECT * FROM q14
UNION ALL SELECT * FROM q15 UNION ALL SELECT * FROM q16
UNION ALL SELECT * FROM q17 UNION ALL SELECT * FROM q18
UNION ALL SELECT * FROM q19 UNION ALL SELECT * FROM q21
UNION ALL SELECT * FROM q22
UNION ALL SELECT * FROM q23 UNION ALL SELECT * FROM q24
UNION ALL SELECT * FROM q25 UNION ALL SELECT * FROM q26
UNION ALL SELECT * FROM q27 UNION ALL SELECT * FROM q28
UNION ALL SELECT * FROM q29 UNION ALL SELECT * FROM q30
UNION ALL SELECT * FROM q31 UNION ALL SELECT * FROM q32
UNION ALL SELECT * FROM q33 UNION ALL SELECT * FROM q34
UNION ALL SELECT * FROM q35 UNION ALL SELECT * FROM q36
UNION ALL SELECT * FROM q37 UNION ALL SELECT * FROM q38
UNION ALL SELECT * FROM q39 UNION ALL SELECT * FROM q40
UNION ALL SELECT * FROM q41 UNION ALL SELECT * FROM q42
UNION ALL SELECT * FROM q43 UNION ALL SELECT * FROM q44
UNION ALL SELECT * FROM q45 UNION ALL SELECT * FROM q46
UNION ALL SELECT * FROM q47 UNION ALL SELECT * FROM q48
UNION ALL SELECT * FROM q49 UNION ALL SELECT * FROM q50
UNION ALL SELECT * FROM q51 UNION ALL SELECT * FROM q52
UNION ALL SELECT * FROM q53 UNION ALL SELECT * FROM q54
"""

# ---- per-method metrics (querydb Metrics.scala analog + cyclomatic) -------

_METRICS_SQL = f"""
WITH n AS (SELECT * FROM {_N}), e AS (SELECT * FROM {_E}),
m AS (
    SELECT node_id AS method_id, doc_id, full_name AS method_full_name
    FROM n WHERE kind = 'METHOD' AND NOT is_external AND name != '<global>'
),
params AS (SELECT method_id, count(*) AS n_params FROM n
           WHERE kind = 'METHOD_PARAMETER_IN' GROUP BY 1),
ctrl AS (SELECT method_id, count(*) AS n_control FROM n
         WHERE kind = 'CONTROL_STRUCTURE' GROUP BY 1),
loops AS (SELECT method_id, count(*) AS n_loops FROM n
          WHERE kind = 'CONTROL_STRUCTURE'
            AND ctrl_type IN ('FOR', 'DO', 'WHILE') GROUP BY 1),
rets AS (SELECT method_id, count(*) AS n_returns FROM n
         WHERE kind = 'RETURN' GROUP BY 1),
cfge AS (SELECT method_id, count(*) AS cfg_edges FROM e
         WHERE kind = 'CFG' GROUP BY 1),
cfgn AS (SELECT method_id, count(*) AS cfg_nodes FROM (
             SELECT DISTINCT method_id, nid FROM (
                 SELECT method_id, src AS nid FROM e WHERE kind = 'CFG'
                 UNION ALL
                 SELECT method_id, dst AS nid FROM e WHERE kind = 'CFG'))
         GROUP BY 1)
SELECT m.doc_id, m.method_full_name,
       CAST(coalesce(params.n_params, 0) AS BIGINT) AS n_params,
       CAST(coalesce(ctrl.n_control, 0) AS BIGINT) AS n_control,
       CAST(coalesce(loops.n_loops, 0) AS BIGINT) AS n_loops,
       CAST(coalesce(rets.n_returns, 0) AS BIGINT) AS n_returns,
       CAST(coalesce(cfge.cfg_edges, 0) AS BIGINT) AS cfg_edges,
       CAST(coalesce(cfgn.cfg_nodes, 0) AS BIGINT) AS cfg_nodes,
       CAST(coalesce(cfge.cfg_edges, 0) - coalesce(cfgn.cfg_nodes, 0) + 2
            AS BIGINT) AS cyclomatic
FROM m
LEFT JOIN params USING (method_id)
LEFT JOIN ctrl USING (method_id)
LEFT JOIN loops USING (method_id)
LEFT JOIN rets USING (method_id)
LEFT JOIN cfge USING (method_id)
LEFT JOIN cfgn USING (method_id)
"""

# ---- bounded transitive call closure (method.repeat(_.callee) analog) -----
# hop bound mirrors operators/graph_metrics.CLOSURE_MAX_HOPS; the recursive
# UNION dedups (root, dst, hops) rows so cycles terminate, and the final
# MIN(hops) GROUP BY matches the BFS's first-visit (minimum-depth) semantics.

_CLOSURE_MAX_HOPS = 6

_CALL_CLOSURE_SQL = f"""
WITH RECURSIVE base AS (
    SELECT DISTINCT ns.method_id AS caller_mid, e.dst AS callee_mid
    FROM {_E} e JOIN {_N} ns ON e.src = ns.node_id
    WHERE e.kind = 'CALL'
),
reach AS (
    SELECT caller_mid AS root_mid, callee_mid AS dst_mid, 1 AS hops FROM base
    UNION
    SELECT r.root_mid, b.callee_mid, r.hops + 1
    FROM reach r JOIN base b ON b.caller_mid = r.dst_mid
    WHERE r.hops < {_CLOSURE_MAX_HOPS}
),
pairs AS (SELECT root_mid, dst_mid, MIN(hops) AS hops FROM reach GROUP BY 1, 2),
names AS (SELECT node_id AS mid, full_name AS fn FROM {_N} WHERE kind = 'METHOD')
SELECT a.fn AS src_full_name, b.fn AS dst_full_name,
       CAST(MIN(p.hops) AS BIGINT) AS hops
FROM pairs p
JOIN names a ON a.mid = p.root_mid
JOIN names b ON b.mid = p.dst_mid
GROUP BY 1, 2
"""

# ---- transitive type hierarchy (TypeHierarchyPass / derivedTypeDecl) ------
# mirrors operators/callgraph.inheritance_closure: INHERITS_FROM base pairs
# (TYPE_DECL full_name → TYPE full_name), name-keyed transitive closure, plus
# the reflexive pair for every TYPE_DECL. The recursion runs to fixpoint;
# the Spark side's round cap (frontier.MAX_ROUNDS) is a safety valve that
# warns when hit, not a semantic bound.

_TYPE_HIERARCHY_SQL = f"""
WITH RECURSIVE
decls AS (SELECT node_id, full_name FROM {_N} WHERE kind = 'TYPE_DECL'),
types AS (SELECT node_id, full_name FROM {_N} WHERE kind = 'TYPE'),
base AS (
    SELECT DISTINCT d.full_name AS sub, t.full_name AS sup
    FROM {_E} e
    JOIN decls d ON e.src = d.node_id
    JOIN types t ON e.dst = t.node_id
    WHERE e.kind = 'INHERITS_FROM'
),
reach AS (
    SELECT sub, sup FROM base
    UNION
    SELECT r.sub, b.sup FROM reach r JOIN base b ON b.sub = r.sup
)
SELECT DISTINCT sub AS sub_full_name, sup AS sup_full_name FROM (
    SELECT sub, sup FROM reach
    UNION
    SELECT full_name AS sub, full_name AS sup FROM decls
)
"""

# ---- .location provenance (NodeSteps.scala:26-85) --------------------------
# hot call sites joined back to their source span by (doc_id, span_offset)

_LOCATIONS_SQL = f"""
WITH calls AS (
    SELECT node_id, doc_id, CAST(line AS BIGINT) AS line, code, span_offset
    FROM {_N}
    WHERE kind = 'CALL' AND regexp_matches(name, '^(malloc|printf|log)$')
)
SELECT c.node_id, c.doc_id, c.line, c.code, s.text AS span_text
FROM calls c
LEFT JOIN {_S} s ON s.doc_id = c.doc_id AND s.span_offset = c.span_offset
"""

# ---- joern-slice: data-flow slice membership (DataFlowSlicing.scala:20-66) --
# backward REACHING_DEF closure of every call argument, bounded at the
# reference's sliceDepth default (20) — mirrors slicing.data_flow_slice

_DATAFLOW_SLICE_SQL = f"""
WITH RECURSIVE
args AS (SELECT DISTINCT dst AS node_id FROM {_E} WHERE kind = 'ARGUMENT'),
rd AS (SELECT dst AS node_id, src AS prev_id FROM {_E}
       WHERE kind = 'REACHING_DEF'),
reach AS (
    SELECT node_id, 0 AS hops FROM args
    UNION
    SELECT rd.prev_id, r.hops + 1
    FROM reach r JOIN rd ON rd.node_id = r.node_id
    WHERE r.hops < 20
),
visited AS (SELECT DISTINCT node_id FROM reach),
methods AS (SELECT node_id AS mid, full_name FROM {_N} WHERE kind = 'METHOD')
SELECT v.node_id, n.kind, n.code,
       COALESCE(m.full_name, '') AS parent_method,
       n.filename AS parent_file,
       CAST(n.line AS BIGINT) AS line
FROM visited v
JOIN {_N} n ON n.node_id = v.node_id
LEFT JOIN methods m ON m.mid = n.method_id
"""

# ---- joern-slice: usage slices (UsageSlicing.scala:33-100) ------------------
# one row per declared variable: defining assignment RHS, receiver calls,
# argument calls — mirrors slicing.usage_slices with the list columns
# rendered as sorted comma-joined strings

_USAGE_SLICES_SQL = f"""
WITH decls AS (
    SELECT method_id AS d_mid, name AS var_name,
           MIN(type_full_name) AS var_type
    FROM {_N} WHERE kind IN ('LOCAL', 'METHOD_PARAMETER_IN')
    GROUP BY 1, 2
),
uses AS (
    SELECT n.node_id AS use_id, n.method_id AS d_mid, n.name AS var_name
    FROM {_N} n JOIN decls d ON n.method_id = d.d_mid AND n.name = d.var_name
    WHERE n.kind = 'IDENTIFIER'
),
calls AS (SELECT node_id AS call_id, name AS call_name FROM {_N}
          WHERE kind = 'CALL'),
recv AS (SELECT src AS call_id, dst AS use_id FROM {_E}
         WHERE kind = 'RECEIVER'),
invoked AS (
    SELECT DISTINCT u.d_mid, u.var_name, c.call_name AS c
    FROM uses u
    JOIN recv r ON r.use_id = u.use_id
    JOIN calls c ON c.call_id = r.call_id
),
arg_edges AS (SELECT src AS call_id, dst AS use_id FROM {_E}
              WHERE kind = 'ARGUMENT'),
arg_to AS (
    SELECT DISTINCT u.d_mid, u.var_name, c.call_name AS c
    FROM uses u
    JOIN arg_edges a ON a.use_id = u.use_id
    JOIN calls c ON c.call_id = a.call_id
    WHERE c.call_name NOT LIKE '<operator>%'
),
assigns AS (SELECT node_id AS a_id FROM {_N}
            WHERE kind = 'CALL' AND name = '<operator>.assignment'),
lhs AS (
    SELECT k.parent_id AS a_id, u.d_mid, u.var_name
    FROM {_N} k
    JOIN assigns a ON k.parent_id = a.a_id
    JOIN uses u ON u.use_id = k.node_id
    WHERE k.argument_index = 1 AND k.kind = 'IDENTIFIER'
),
rhs AS (
    SELECT k.parent_id AS a_id, k.code AS rhs_code
    FROM {_N} k JOIN assigns a ON k.parent_id = a.a_id
    WHERE k.argument_index = 2
),
defined AS (
    SELECT l.d_mid, l.var_name, MIN(r.rhs_code) AS defined_by
    FROM lhs l JOIN rhs r ON r.a_id = l.a_id
    GROUP BY 1, 2
),
inv_agg AS (
    SELECT d_mid, var_name, string_agg(c, ',' ORDER BY c) AS s,
           count(*) AS n
    FROM invoked GROUP BY 1, 2
),
arg_agg AS (
    SELECT d_mid, var_name, string_agg(c, ',' ORDER BY c) AS s,
           count(*) AS n
    FROM arg_to GROUP BY 1, 2
),
methods AS (SELECT node_id AS d_mid, full_name AS method_full_name,
                   filename AS file_name
            FROM {_N} WHERE kind = 'METHOD')
SELECT m.method_full_name, m.file_name, d.var_name, d.var_type,
       COALESCE(df.defined_by, '') AS defined_by,
       COALESCE(i.s, '') AS invoked_calls,
       COALESCE(a.s, '') AS arg_to_calls
FROM decls d
LEFT JOIN inv_agg i ON i.d_mid = d.d_mid AND i.var_name = d.var_name
LEFT JOIN arg_agg a ON a.d_mid = d.d_mid AND a.var_name = d.var_name
LEFT JOIN defined df ON df.d_mid = d.d_mid AND df.var_name = d.var_name
JOIN methods m ON m.d_mid = d.d_mid
WHERE COALESCE(i.n, 0) + COALESCE(a.n, 0) >= 1
"""

# ---- KG degree statistics ---------------------------------------------------

_DEGREE_HIST_SQL = f"""
SELECT kind AS edge_kind, CAST(deg AS BIGINT) AS out_degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM (SELECT kind, src, count(*) AS deg FROM {_E} GROUP BY 1, 2)
GROUP BY 1, 2
"""

ORACLES = {
    "cpg_span_provenance": _SPAN_SQL,
    "cpg_type_hierarchy": _TYPE_HIERARCHY_SQL,
    "cpg_locations": _LOCATIONS_SQL,
    "cpg_degree_hist": _DEGREE_HIST_SQL,
    "cpg_triples": _TRIPLES_SQL,
    "cpg_cfg_edges": _CFG_SQL,
    "cpg_reaching_def": _RD_SQL,
    "cpg_dominators": _DOM_SQL,
    "cpg_callgraph": _CALLGRAPH_SQL,
    "cpg_dependencies": _DEPS_SQL,
    "cpg_canonical_symbols": _CANON_SQL,
    "cpg_vectors": _VECTORS_SQL,
    "cpg_scan_findings": _SCAN_SQL,
    "cpg_method_metrics": _METRICS_SQL,
    "cpg_call_closure": _CALL_CLOSURE_SQL,
    "cpg_dataflow_slice": _DATAFLOW_SLICE_SQL,
    "cpg_usage_slices": _USAGE_SLICES_SQL,
}
