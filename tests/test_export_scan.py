"""Export sinks, feature vectors, and scan-bundle tests."""

import json

import pytest
from pyspark.sql import functions as F

from joern_spark.export import method_subgraphs, neo4j_csv
from joern_spark.scan import run_scan
from joern_spark.vectors import bag_of_api_symbols, bag_of_nodes
from tests.conftest import F1, F2, F3


def test_dot_export(cpg):
    rows = method_subgraphs(cpg.nodes, cpg.edges, "CFG", "dot").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["text"])
    flow_dots = by_doc[F1]
    assert any("digraph" in t and "->" in t for t in flow_dots)
    # CFG representation only contains CFG edges (edge labels all CFG)
    assert all('label="CFG"' in line
               for t in flow_dots for line in t.splitlines() if "->" in line)


def test_json_export_roundtrip(cpg):
    rows = method_subgraphs(cpg.nodes, cpg.edges, "AST", "json").collect()
    doc = json.loads(rows[0]["text"])
    assert set(doc) == {"name", "nodes", "edges"}
    assert all(e["kind"] == "AST" for e in doc["edges"])


def test_graphml_export_wellformed(cpg):
    import xml.etree.ElementTree as ET

    rows = method_subgraphs(cpg.nodes, cpg.edges, "ALL", "graphml").collect()
    for r in rows[:3]:
        ET.fromstring(r["text"])  # raises on malformed XML


def test_export_text_independent_of_partitioning(cpg):
    """A method's text depends on its graph alone, not on the order its rows
    arrive in: the same frames in 3 or 5 partitions render the same texts."""
    def texts(nodes, edges):
        return {r["method_id"]: r["text"] for r in
                method_subgraphs(nodes, edges, "ALL", "graphson").collect()}

    want = texts(cpg.nodes, cpg.edges)
    assert want
    for n in (3, 5):
        assert texts(cpg.nodes.repartition(n), cpg.edges.repartition(n)) == want, n


def test_neo4j_csv_shape(cpg):
    n, e = neo4j_csv(cpg.nodes, cpg.edges)
    assert n.columns == [":ID", ":LABEL", "name", "code"]
    assert e.columns == [":START_ID", ":END_ID", ":TYPE", "variable"]
    assert n.count() > 0 and e.count() > 0


def test_bag_of_nodes(cpg):
    vec = {r["doc_id"]: (list(r["indices"]), list(r["values"]))
           for r in bag_of_nodes(cpg.nodes, dim=64).collect()}
    idx, vals = vec[F1]
    assert len(idx) == len(vals)
    assert sorted(idx) == idx  # sorted sparse indices
    assert sum(vals) == 32  # every F1 node counted once (31 parsed + paramOut)


def test_bag_of_api_symbols(cpg):
    vec = bag_of_api_symbols(cpg.nodes, dim=64)
    f3 = vec.filter(F.col("doc_id") == F3).collect()
    assert len(f3) == 1
    assert sum(f3[0]["values"]) == 2  # print_number(42) + printf(x)


@pytest.fixture(scope="module")
def scan_rows(cpg):
    """ONE shared run_scan evaluation for every scan test in this module.

    The bundle is deterministic over the fixture corpus, and a full
    evaluation costs ~2 min (53 queries, 23 of them dataflow) — re-running
    it per test multiplied that by 6 for no extra coverage."""
    findings = run_scan(cpg.nodes, cpg.edges).persist()
    rows = findings.collect()
    return rows


def _by_name(rows):
    by = {}
    for r in rows:
        by.setdefault(r["name"], []).append((r["doc_id"], r["code"]))
    return by


def test_scan_bundle(scan_rows):
    names = {r["name"] for r in scan_rows}
    # printf(x) and printf(buf)-style sinks exist; literals flow in F3
    assert "literal-to-format-sink" in names
    # MethodTest.staticMethod etc. are never called
    assert "uncalled-internal-method" in names
    assert all(r["severity"] > 0 for r in scan_rows)


def test_scan_finding_rows_resolve(scan_rows):
    assert all(r["doc_id"] is not None for r in scan_rows)


def test_querydb_ports(scan_rows):
    """The 18 querydb-ported queries against the F16/F17 scanner fixtures:
    exact (name → finding codes) expectations, positives AND negatives."""
    by_name = _by_name(scan_rows)

    sc = "fixtures/c/scanners"
    assert by_name["call-to-gets"] == [(sc, "gets(buf)")]
    assert by_name["call-to-scanf"] == [(sc, 'scanf("%s", buf)')]
    assert by_name["call-to-strcat"] == [(sc, "strcat(dst, src)")]
    # the strcpy family regex also catches F29's three strncpy calls and
    # F30's two getenv-fixture strcpy calls
    nt = "fixtures/c/nullterm"
    ge = "fixtures/c/envcopy"
    assert sorted(by_name["call-to-strcpy"]) == sorted(
        [(nt, "strncpy(ptr, ntsrc, asize)")] * 3
        + [(sc, "strcpy(dst, src)"), (ge, "strcpy(dst, p)"),
           (ge, 'strcpy(dst2, "lit")')])
    assert by_name["call-to-strtok"] == [(sc, 'strtok(src, ",")')]
    assert by_name["call-to-getwd"] == [(sc, "getwd(buf)")]
    # 255 << val, val << val, val <<= 24 fire; u << 2 (unsigned) must not
    assert sorted(c for _, c in by_name["signed-left-shift"]) == [
        "255 << val", "val << val", "val <<= 24"]
    assert by_name["strlen-truncation"] == [(sc, "n")]
    # drop_priv's setuid fires; drop_priv_ok's is dominated by setgid(0)
    assert by_name["setuid-without-setgid"] == [(sc, "setuid(0)")]
    assert by_name["setgid-without-setgroups"] == [(sc, "setgid(0)")]
    # copy_idx's dst[i] fires; copy_mix's dst[a] (sibling for increments a)
    # and src[i] (read position) must not
    assert by_name["copy-loop"] == [(sc, "dst")]
    # free(x); log(x) fires on x; free(y); y = 0; log(y) is reassigned
    assert by_name["free-follows-value-reuse"] == [(sc, "x")]
    # Injection.java: handle(input) returns ModelAndView, input reaches
    # Db.query's first parameter
    assert by_name["sql-injection"] == [("fixtures/java/Injection.java", "String s")]
    # printf with identifier format in F3/F10 (fixture) — literal formats safe
    fmt = sorted(by_name["format-controlled-printf"])
    assert fmt == [("fixtures/c/fnptr", "printf(e)"), ("fixtures/c/test", "printf(x)")]
    # returnValueNotChecked (RetvalChecks/SocketApi): rv_unchecked fires;
    # rv_checked (target in a later condition) and rv_direct (call inside
    # the condition) must not
    assert by_name["unchecked-read-recv-malloc"] == [(sc, "read(fd, rbuf, 8)")]
    assert by_name["socket-send"] == [(sc, "send(sfd, sbuf, 8, 0)")]
    # FileOpRace: race_two's chmod+rename share rpath (both flagged);
    # race_ok's operations touch different paths
    assert sorted(c for _, c in by_name["file-operation-race"]) == [
        "chmod(rpath, 0)", 'rename(rpath, "/tmp/nx")']
    # java/DangerousFunctions: Runtime.exec through the decl-typed receiver
    # (the android-pack fixtures F38/F41 add three more Runtime.exec sites)
    assert sorted(by_name["call-to-exec"]) == [
        ("fixtures/java/FwdActivity.java", "rt.exec(ix)"),
        ("fixtures/java/FwdActivity.java", "rt2.exec(iy)"),
        ("fixtures/java/Injection.java", "rt.exec(cmd)"),
        ("fixtures/java/WebHost.java", "rt.exec(cmd)")]


def test_metrics_and_crypto_ports(scan_rows):
    """c/Metrics.scala and java/CryptographyMisuse.scala ports against the
    F19/F20 fixtures: exact expectations, positives AND negatives."""
    by_name = _by_name(scan_rows)

    mc, cj = "fixtures/c/metrics", "fixtures/java/Crypto.java"
    # 5 params fires; the 4-param twin must not (reference default n=4)
    assert by_name["too-many-params"] == [
        (mc, "int mx_params(int a, int b, int c, int d, int e)")]
    # 5 control structures fire (mx_complex, mx_loops, zoo); 2 don't
    assert sorted(by_name["too-high-complexity"]) == [
        (mc, "int mx_complex(int x)"), (mc, "int mx_loops(int x)"),
        ("fixtures/c/zoo", "int zoo(int x)")]
    # >1000 lines: unreachable in fixtures by design (reference default)
    assert "too-long" not in by_name
    assert sorted(by_name["multiple-returns"]) == [
        (mc, "int mx_returns(int x)"),
        ("fixtures/c/scanners", "int rv_direct(int fd)"),
        ("fixtures/java/Trust.java",
         "boolean verifyStrict(String host, SSLSession session)"),
        ("fixtures/jimple/Dispatch.jimple", "public static int jtally(int)"),
        ("fixtures/js/view.jsx", "function getGreeting(user)"),
        ("fixtures/py/app.py", "def draw"),
        ("fixtures/ruby/feed.rb", "def run")]
    # 5 loops fire; mx_complex's 1 loop + 4 ifs must not
    assert by_name["too-many-loops"] == [(mc, "int mx_loops(int x)")]
    # 4-deep if chain fires; the py fixture's loop/if/elif tower also
    assert sorted(by_name["too-nested"]) == [
        (mc, "int mx_nested(int x)"), ("fixtures/py/app.py", "def draw")]
    # finding marks the SOURCE literal (reference sink.reachableBy(source));
    # "MD5" via a local, "SHA-1" as a direct argument; "SHA-256" must not
    assert sorted(by_name["unsafe-crypto-hash-algo"]) == [
        (cj, '"MD5"'), (cj, '"SHA-1"')]
    # 500 < 1000 fires; 4000 and the 2048 key length must not
    assert by_name["low-pbe-key-iterations"] == [(cj, "500")]
    # HeapBasedOverflow (F22): len+8 vs len+7 fires; len+8 vs len+8 and the
    # non-arithmetic some_size must not
    assert by_name["malloc-memcpy-int-overflow"] == [
        ("fixtures/c/heap", "memcpy(dst, hsrc, len + 7)")]
    # MissingLengthCheck (F23): pkt[8] guarded only by pkt_len > 2 fires;
    # buf[4] under buf_len > 4, q[3] with no length field, and npkt[0]
    # under `if (npkt)` (implicit zero bound) must not
    assert by_name["constant-array-access-no-check"] == [
        ("fixtures/c/lencheck", "pkt[8]")]
    # NetworkProtocols (F24): http constructor fires, https must not
    # fires on the java `new URL(...)` AND the kotlin/swift new-less
    # constructors (F47/F48); all https twins must not
    assert sorted(by_name["usage-of-insecure-protocol"]) == [
        ("fixtures/java/Net.java", 'new URL("http://phrack.org")'),
        ("fixtures/kotlin/Net.kt", 'URL("http://phrack.org")'),
        ("fixtures/swift/Net.swift", 'URL("http://phrack.org")')]
    # UnsafeReflection fragment-injection (F25/F26): targetSdk 17 gradle
    # fires (finding code = full config content), targetSdk 33 must not
    assert [d for d, _ in by_name["fragment-injection"]] == [
        "fixtures/android/app/build.gradle"]
    # CrossSiteScripting (F27): getParameter → writer println fires; the
    # constant println and the non-writer (Logger) println must not
    assert by_name["xss-servlet"] == [
        ("fixtures/java/Servlet.java", "w.println(p)")]
    # CertificateChecks (F28): `return true` verify and empty
    # checkServerTrusted fire (finding = the RETURN); branching verifier
    # must not
    assert sorted(by_name["ineffective-certificate-check"]) == [
        ("fixtures/java/Trust.java", "return"),
        ("fixtures/java/Trust.java", "return true")]
    # NullTermination (F29): same-size malloc/strncpy fires on the dst;
    # +1-headroom malloc and the explicitly zero-terminated buffer must not
    assert by_name["strncpy-no-null-term"] == [
        ("fixtures/c/nullterm", "ptr")]


def test_ghidra_php_android_ports(scan_rows):
    """ghidra/php/android querydb ports against the F30-F36 fixtures:
    exact expectations, positives AND negatives."""
    by_name = _by_name(scan_rows)

    ge = "fixtures/c/envcopy"
    # ghidra's unanchored strcpy-family regex: every strcpy/strncpy site
    assert sorted(by_name["call-to-strcpy-ghidra"]) == sorted(
        [("fixtures/c/nullterm", "strncpy(ptr, ntsrc, asize)")] * 3
        + [("fixtures/c/scanners", "strcpy(dst, src)"),
           (ge, "strcpy(dst, p)"), (ge, 'strcpy(dst2, "lit")')])
    # getenv result into strcpy source buffer fires; the literal twin not
    assert by_name["getenv-to-strcpy"] == [(ge, "p")]
    # php pack: _REQUEST subscript into query()/shell_exec() args fires —
    # on the jssrc shapes AND the real php-mini fixture (F45); the constant
    # twins must not
    ph = "fixtures/js/phpish.js"
    php45 = "fixtures/php/inject.php"
    assert sorted(by_name["php-sql-injection"]) == [
        (ph, "q"), (php45, "$cmd")]
    assert sorted(by_name["shell-exec"]) == [(ph, "q"), (php45, "$cmd")]
    # root detection: called isRooted fires; caller-less twin must not
    assert by_name["root-detection-via-file-checks"] == [
        ("fixtures/java/RootCheck.java", "boolean isRooted()")]
    # manifest allowBackup="true" fires; "false" must not
    assert [d for d, _ in by_name["manifest-backup-enabled"]] == [
        "fixtures/android/backup/AndroidManifest.xml"]
    # tap-jacking: targetSdk 17 and 21 fire; 33 must not — and 21 >= 19
    # keeps fragment-injection on the app gradle only
    assert sorted(d for d, _ in by_name["tap-jacking"]) == [
        "fixtures/android/app/build.gradle",
        "fixtures/android/tap/build.gradle"]
    assert [d for d, _ in by_name["fragment-injection"]] == [
        "fixtures/android/app/build.gradle"]
    # vuln-prng: minSdk 17 gradle fires because the PRNG literal reaches
    # SecureRandom.getInstance in Rng.java
    assert [d for d, _ in by_name["vuln-prng-android-v16_18"]] == [
        "fixtures/android/tap/build.gradle"]


def test_uaf_field_ports(scan_rows):
    """The two remaining UseAfterFree queries against F46: positives AND
    negatives (closes the querydb to 50/50 reference query names)."""
    by_name = _by_name(scan_rows)
    uf = "fixtures/c/uaf_field"
    # free'd param field escaping to the return fires; the all-paths
    # reassigner (field_free_ok) and whole-struct free (field_free_whole)
    # must not
    assert by_name["free-field-no-reassign"] == [(uf, "b->ptr")]
    # local stored into out-param pointee then free'd fires on the stored
    # identifier; the different-local twin and the reassigned-param twin
    # must not
    assert by_name["free-returned-value"] == [(uf, "x")]


def test_android_kotlin_dataflow_ports(scan_rows):
    """The six android/kotlin dataflow scanners against the F37-F44
    fixtures: exact expectations, positives AND negatives."""
    by_name = _by_name(scan_rows)

    # unguarded startActivity forward fires (finding = the SOURCE call);
    # the if-guarded twin must not
    assert by_name["intent-redirection"] == [
        ("fixtures/java/Redirector.java", 'theIntent.getParcelableExtra("k")')]
    # unchecked ZipEntry param into FileOutputStream init fires; the
    # startsWith-guarded twin must not
    assert by_name["unzip-directory-traversal"] == [
        ("fixtures/java/Unzip.java", "new FileOutputStream(fileForEntry)")]
    # empty-check trust manager alloc into SSLContext.init fires; the
    # validating twin must not
    assert by_name["usage-of-nop-trust-manager"] == [
        ("fixtures/java/Trustmgr.java", "ctx.init(null, tms, sr)")]
    # exported receiver's intent param into FileOutputStream.write fires;
    # the unexported twin must not
    assert by_name["broadcast-to-file-write"] == [
        ("fixtures/java/EvilReceiver.java", "fos.write(inx)")]
    # exported activity's getIntent into Runtime.exec fires; the
    # unexported twin must not
    assert by_name["intent-to-runtime-exec"] == [
        ("fixtures/java/FwdActivity.java", "rt.exec(ix)")]
    # the external-storage → DexClassLoader → loadClass → invoke chain
    # fires; the local-path loader twin must not
    assert by_name["external-storage-to-dex-classloader"] == [
        ("fixtures/java/Dyn.java", "m.invoke(k, a)")]
    # the http-loading host's bridge param into Runtime.exec fires; the
    # https host's bridge must not
    assert by_name["insecure-load-url-to-exec"] == [
        ("fixtures/java/WebHost.java", "rt.exec(cmd)")]


# per-pack finding counts over the fixture corpus: the 54-query bundle is
# golden-locked as a SET elsewhere; this pins each reference pack's count so
# a regression in one pack can't hide inside the aggregate (round-4 verdict
# ask #7). Counts are deterministic over the fixture corpus.
_EXPECTED_PACK_COUNTS = {
    "android": 11, "c": 44, "core": 127, "ghidra": 7, "java": 11,
    "kotlin": 5, "php": 4,
}


def test_per_pack_finding_counts(scan_rows):
    from joern_spark.scan import DEFAULT_BUNDLE, QUERY_PACKS

    # every bundle query is pack-assigned, and vice versa
    bundle_names = {q.name for q in DEFAULT_BUNDLE}
    assert bundle_names == set(QUERY_PACKS), (
        bundle_names ^ set(QUERY_PACKS)
    )
    counts: dict = {}
    for r in scan_rows:
        counts[QUERY_PACKS[r["name"]]] = counts.get(QUERY_PACKS[r["name"]], 0) + 1
    assert counts == _EXPECTED_PACK_COUNTS, counts


def test_too_long_logic(cpg):
    """too-long with an explicit small threshold (the reference-default 1000
    is untestable on fixture-sized methods): line-span derivation fires on
    the multi-line methods and spares one-liners."""
    from joern_spark.query import Cpg
    from joern_spark.scan import _too_long

    q = Cpg(nodes=cpg.nodes, edges=cpg.edges)
    hits = _too_long(q, n=5).join(
        cpg.nodes.select("node_id", "doc_id", "code"), "node_id")
    codes = {r["code"] for r in hits.filter(
        F.col("doc_id") == "fixtures/c/metrics").collect()}
    assert "int mx_loops(int x)" in codes          # 8-line body
    assert "int mx_nested(int x)" in codes         # 10-line body
    assert "int mx_params(int a, int b, int c, int d, int e)" not in codes


# ---- GraphSON + slicing sinks ----------------------------------------------

def test_graphson_export(cpg):
    import json

    from joern_spark.export import method_subgraphs

    rows = method_subgraphs(cpg.nodes, cpg.edges, "AST", "graphson").limit(3).collect()
    assert rows
    for r in rows:
        g = json.loads(r["text"])
        assert g["@type"] == "tinker:graph"
        vs, es = g["@value"]["vertices"], g["@value"]["edges"]
        assert vs and all(v["@type"] == "g:Vertex" for v in vs)
        for e in es:
            assert e["@value"]["outV"]["@type"] == "g:Int64"


def test_data_flow_slice(cpg):
    from joern_spark.slicing import data_flow_slice

    sn, se = data_flow_slice(cpg.nodes, cpg.edges, slice_depth=8)
    n = sn.count()
    assert n > 0
    # every slice edge endpoint is a slice node
    ids = {r["node_id"] for r in sn.select("node_id").collect()}
    for r in se.collect():
        assert r["src"] in ids and r["dst"] in ids


def test_usage_slices(cpg):
    from joern_spark.slicing import usage_slices
    from tests.conftest import F2

    rows = usage_slices(cpg.nodes, cpg.edges).collect()
    by_var = {(r["method_full_name"], r["var_name"]): r for r in rows}
    # free_list's p: defined by head (for-init), passed to free()
    p = by_var.get(("free_list", "p"))
    assert p is not None
    assert "free" in p["arg_to_calls"]
