"""HTML boilerplate-strip tests: densometric rule on crafted blocks and
the zero-shuffle plan guarantee."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.operators.web_extract import (
    _is_content,
    html_main_content,
    synth_html_docs,
)


def _classify(spark, html: str) -> list[int]:
    """Classify each <p> block of a crafted page."""
    df = spark.createDataFrame([(html,)], "html string")
    ps = F.regexp_extract_all(F.col("html"), F.lit("<p>(.*?)</p>"), 1)
    out = df.select(
        F.transform(ps, lambda b: _is_content(b).cast("int")).alias("c")
    ).collect()[0]["c"]
    return list(out)


def test_density_rule_on_crafted_blocks(spark):
    html = (
        # prose, no links -> content
        "<p>one two three four five six seven</p>"
        # long but link-dense (6 of 8 words inside anchors) -> boiler
        "<p>aa bb <a href=x>cc dd ee</a> <a href=y>ff gg hh</a></p>"
        # short prose (4 words) -> boiler
        "<p>too short to keep</p>"
        # prose with one small link (1 of 7 words) -> content
        "<p>alpha beta <a href=z>gamma</a> delta epsilon zeta eta</p>"
    )
    assert _classify(spark, html) == [1, 0, 0, 1]


def test_main_content_recovers_document_prose(spark, sf_dir):
    """The extracted main_text must equal the first 24 words of the
    source document (the synthesized prose), with every nav/share/footer
    word gone."""
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    out = html_main_content(spark, sf_dir).collect()
    assert len(out) == len(docs)
    checked = 0
    for r in out:
        words = docs[r["doc_id"]].split(" ")
        if len(words) >= 24:
            assert r["main_text"] == " ".join(words[:24])
            assert r["n_content_blocks"] == 3
            checked += 1
        assert r["n_boiler_p_blocks"] >= 1  # the share-bar
        for w in ("home", "tweet", "copyright"):
            assert w not in r["main_text"].split(" ")
    assert checked > 0


def test_main_content_plan_is_single_pass(spark, sf_dir):
    """No shuffle except the check-gate repartition(1), no Python: the
    extractor must run at scan speed."""
    plan = html_main_content(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Scan parquet" in plan


def test_synth_pages_are_deterministic(spark, sf_dir):
    a = synth_html_docs(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    b = synth_html_docs(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    assert a == b


def test_pagerank_matches_python_twin(spark, sf_dir):
    """Exact integer-ppb PageRank against an independent pure-python
    twin on the same deterministic graph."""
    from ocr_spark.operators.web_extract import PR_ITERS, link_graph_pagerank

    rows = link_graph_pagerank(spark, sf_dir).collect()
    n = len(rows)
    edges = set()
    for i in range(n):
        for a, b in ((7, 1), (13, 2), (31, 3)):
            t = (i * a + b) % n
            if t != i:
                edges.add((i, t))
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    pr = {v: 10**9 // n for v in range(n)}
    base = 150_000_000 // n
    for _ in range(PR_ITERS):
        nxt = {v: base for v in range(n)}
        for s, d in edges:
            nxt[d] += (85 * pr[s]) // (100 * out_deg[s])
        pr = nxt
    for r in rows:
        assert r["pr_ppb"] == pr[r["doc_id"]], r
        assert r["out_deg"] == out_deg.get(r["doc_id"], 0)
    # rank mass stays below the initial scale (floor losses only leak)
    assert sum(pr.values()) <= 10**9


def test_hits_matches_python_twin(spark, sf_dir):
    """Exact integer-ppm HITS against an independent pure-python twin
    on the same deterministic graph (same max-renormalized floor-div
    rule), plus the normalization invariants: every score in
    [0, SCALE], and each final half-step's max is exactly SCALE."""
    from ocr_spark.operators.web_extract import (
        HITS_ITERS,
        HITS_SCALE,
        hits_hubs_authorities,
    )

    rows = hits_hubs_authorities(spark, sf_dir).collect()
    n = len(rows)
    edges = set()
    for i in range(n):
        for a, b in ((7, 1), (13, 2), (31, 3)):
            t = (i * a + b) % n
            if t != i:
                edges.add((i, t))
    hub = {v: HITS_SCALE for v in range(n)}
    auth = {}
    for _ in range(HITS_ITERS):
        raw = {}
        for s, d in edges:
            if s in hub:
                raw[d] = raw.get(d, 0) + hub[s]
        mx = max(raw.values())
        auth = {v: (x * HITS_SCALE) // mx for v, x in raw.items()}
        raw = {}
        for s, d in edges:
            if d in auth:
                raw[s] = raw.get(s, 0) + auth[d]
        mx = max(raw.values())
        hub = {v: (x * HITS_SCALE) // mx for v, x in raw.items()}
    for r in rows:
        assert r["hub_ppm"] == hub.get(r["doc_id"], 0), r
        assert r["auth_ppm"] == auth.get(r["doc_id"], 0), r
        assert 0 <= r["hub_ppm"] <= HITS_SCALE
        assert 0 <= r["auth_ppm"] <= HITS_SCALE
    assert max(r["hub_ppm"] for r in rows) == HITS_SCALE
    assert max(r["auth_ppm"] for r in rows) == HITS_SCALE


def test_anchor_text_aggregation_crafted(spark, tmp_path):
    """Hand-checked anchor profile on a tiny graph: counts aggregate
    across multiple in-links, the tie-break picks the lexicographically
    largest term at equal count, and n_inlinks matches the synthesized
    edge list."""
    from ocr_spark.operators.web_extract import anchor_text_aggregation

    d = str(tmp_path)
    # n=4: edges from doc i to (7i+1, 13i+2, 31i+3) mod 4, minus selfs
    n = 4
    texts = ["alpha beta gamma x", "beta beta gamma", "zeta alpha", "q"]
    spark.createDataFrame(
        [(i, texts[i], "en", "s", 1) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    edges = set()
    for i in range(n):
        for a, b in ((7, 1), (13, 2), (31, 3)):
            t = (i * a + b) % n
            if t != i:
                edges.add((i, t))
    counts: dict = {}
    for s, t in edges:
        for term in texts[s].lower().split(" ")[:3]:
            counts[(t, term)] = counts.get((t, term), 0) + 1
    got = {r["doc_id"]: r for r in anchor_text_aggregation(spark, d).collect()}
    for dst in {t for _, t in edges}:
        terms = {tm: c for (t2, tm), c in counts.items() if t2 == dst}
        best = max(terms.items(), key=lambda kv: (kv[1], kv[0]))
        assert got[dst]["top_term"] == best[0], (dst, terms, got[dst])
        assert got[dst]["top_cnt"] == best[1]
        assert got[dst]["n_terms"] == len(terms)
        assert got[dst]["n_inlinks"] == sum(1 for s, t in edges if t == dst)


def test_cocitation_matches_python_twin(spark, tmp_path):
    """Co-citation pairs and ppm squared cosine against an independent
    python twin on a small graph; pair domain is exactly the dst-pairs
    sharing a citing src, each pair once (a < b)."""
    from ocr_spark.operators.web_extract import cocitation_pairs

    d = str(tmp_path)
    n = 23
    spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    edges = set()
    for i in range(n):
        for a, b in ((7, 1), (13, 2), (31, 3)):
            t = (i * a + b) % n
            if t != i:
                edges.add((i, t))
    by_src: dict = {}
    for s, t in edges:
        by_src.setdefault(s, []).append(t)
    cnt: dict = {}
    for outs in by_src.values():
        outs = sorted(outs)
        for i in range(len(outs)):
            for j in range(i + 1, len(outs)):
                cnt[(outs[i], outs[j])] = cnt.get((outs[i], outs[j]), 0) + 1
    indeg: dict = {}
    for _, t in edges:
        indeg[t] = indeg.get(t, 0) + 1
    rows = cocitation_pairs(spark, d).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == set(cnt)
    for r in rows:
        key = (r["doc_a"], r["doc_b"])
        assert r["cocite_cnt"] == cnt[key]
        assert r["indeg_a"] == indeg[r["doc_a"]]
        assert r["indeg_b"] == indeg[r["doc_b"]]
        expect = (
            cnt[key] * cnt[key] * 1_000_000
            // (indeg[r["doc_a"]] * indeg[r["doc_b"]])
        )
        assert r["cos2_ppm"] == expect
        assert r["cos2_ppm"] <= 1_000_000  # cnt <= min(indeg_a, indeg_b)


def test_url_canonicalize_crafted(spark, tmp_path):
    """Hand-checked canonical forms: tracking params dropped, query
    sorted, fragment dropped, default port + www + trailing slash
    stripped; residue-colliding doc_ids share a canonical URL with the
    min-doc_id survivor."""
    from ocr_spark.operators.web_extract import url_canonicalize

    df = spark.createDataFrame([(0,), (1,), (2,), (60,)], "doc_id long")
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/documents.parquet")
    rows = {r.doc_id: r for r in url_canonicalize(spark, d).collect()}
    assert rows[0].canon_url == "http://site0.com/Path/0?a=1&b=2"
    assert rows[1].canon_url == "http://site1.com/Path/1?a=1"
    assert rows[2].canon_url == "http://site2.com/Path/2"
    # 60 % 5 == 0, 60 % 20 == 0, 60 % 3 == 0: exact residue collision
    assert rows[60].canon_url == rows[0].canon_url
    assert rows[0].is_survivor == 1 and rows[60].is_survivor == 0


def test_url_canonicalize_generic_forms(spark):
    """canonicalize_url on raw strings beyond the fixture grammar:
    https default port stripped, non-default port preserved, path case
    preserved, all-tracking query collapses entirely."""
    from ocr_spark.operators.web_extract import canonicalize_url
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("HTTPS://WWW.Ex.COM:443/A/B/?gclid=1#x",),
            ("http://ex.com:8080/p?b=2&a=1",),
        ],
        "raw string",
    )
    got = [r[0] for r in df.select(canonicalize_url(F.col("raw"))).collect()]
    assert got[0] == "https://ex.com/A/B"     # 443 stripped, case kept
    assert got[1] == "http://ex.com:8080/p?a=1&b=2"  # 8080 preserved


def test_html_to_spans_interleave_and_offsets(spark, sf_dir):
    """Spans must interleave text and image in page order, drop the
    link-dense share-bar <p>, carry the img src as media_ref, and give
    every span the char offset where it sits in the stripped text flow
    (text spans contribute len+1, images are zero-width)."""
    from ocr_spark.operators.web_extract import html_to_spans

    rows = html_to_spans(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    checked = 0
    for doc_id, spans in by_doc.items():
        kinds = [s["kind"] for s in spans]
        assert "share" not in " ".join(s["text"] or "" for s in spans)
        off = 0
        for i, s in enumerate(spans):
            assert s["span_idx"] == i
            assert s["span_offset"] == off
            if s["kind"] == "text":
                assert s["media_ref"] is None and s["text"]
                off += len(s["text"]) + 1
            else:
                assert s["kind"] == "image"
                assert s["text"] is None
                assert s["media_ref"].startswith(f"img://web{doc_id}")
        if kinds == ["image", "text", "image", "text"]:
            checked += 1
    assert checked > 0


def test_html_to_spans_plan_is_single_pass(spark, sf_dir):
    """Element tokenization, density filter, and the running-offset fold
    are all array-side: no shuffle except the check-gate repartition(1),
    no Python."""
    from ocr_spark.operators.web_extract import html_to_spans

    plan = (
        html_to_spans(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Scan parquet" in plan


def test_web_spans_compose_with_ocr_pipeline(spark, sf_dir):
    """Tier composition: html_to_spans output IS a valid interleaved
    document — regroup its rows into the flagship span schema, run the
    real OCR extraction pipeline, and every image span's recognized text
    must equal the fixture ground truth while text spans pass through
    in order."""
    from pyspark.sql import functions as F

    from ocr_spark.fixtures.render import expected_media_text
    from ocr_spark.operators.pipeline import extract_documents
    from ocr_spark.operators.web_extract import html_to_spans

    flat = html_to_spans(spark, sf_dir)
    docs = (
        flat.filter(F.col("doc_id") < 4)
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "span_idx",
                        F.struct(
                            F.when(F.col("kind") == "image", "media")
                            .otherwise("text")
                            .alias("kind"),
                            F.col("text").alias("text"),
                            F.col("media_ref").alias("media_ref"),
                            F.col("span_offset").alias("offset"),
                        ).alias("s"),
                    )
                )
            ).alias("packed")
        )
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.transform(F.col("packed"), lambda p: p["s"]).alias("spans"),
        )
    )
    out = {r["doc_id"]: r for r in extract_documents(docs).collect()}
    assert out and all(r["success"] for r in out.values())
    src = {str(r["doc_id"]): r for r in docs.collect()}
    checked_imgs = 0
    for doc_id, r in out.items():
        inp = src[doc_id]["spans"]
        got = r["spans"]
        assert len(got) == len(inp)
        for s_in, s_out in zip(inp, got):
            assert s_out["kind"] == s_in["kind"]
            assert s_out["media_ref"] == s_in["media_ref"]
            if s_in["kind"] != "media":
                assert s_out["text"] == s_in["text"]
            else:
                assert s_out["text"] == expected_media_text(
                    s_in["media_ref"]
                )
                checked_imgs += 1
    assert checked_imgs >= 4


def test_robots_gate_longest_prefix_semantics(spark, sf_dir):
    """/path/12 is allowed on every host (the longer allow carves the
    exception out of the /path/1 deny); /path/1 and /path/10..19 (except
    12) are denied; /path/3 is denied only on even hosts."""
    from ocr_spark.operators.web_extract import robots_gate

    rows = robots_gate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        p = int(r.path.rsplit("/", 1)[1])
        h = int(r.host[4])
        if p == 12:
            assert (r.verdict, r.matched_prefix) == ("allow", "/path/12")
        elif p == 1 or 10 <= p <= 19:
            assert (r.verdict, r.matched_prefix) == ("deny", "/path/1")
        elif p == 3 and h % 2 == 0:
            assert (r.verdict, r.matched_prefix) == ("deny", "/path/3")
        else:
            assert (r.verdict, r.matched_prefix) == ("allow", "/")


def test_kcore_fixed_point_peels_long_tendril(spark):
    """Convergence gate for the round-4 fixed-point k-core: a triangle
    core (the true 2-core) with a 6-node tendril hanging off it.  At
    k=2 the tendril peels ONE layer per round — 6 rounds, double the
    old fixed KCORE_ROUNDS=3, which would have left half the tendril in
    the 'core' — and the loop must stop at the drop-free round with
    exactly the triangle surviving at residual degree 2."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.web_extract import kcore_fixed_point

    # triangle 0-1-2; tendril 2-3-4-5-6-7-8 (path)
    directed = [(0, 1), (1, 2), (2, 0)] + [
        (i, i + 1) for i in range(2, 8)
    ]
    e = spark.createDataFrame(directed, "src long, dst long")
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    alive = spark.createDataFrame(
        [(i,) for i in range(9)], "v long"
    )
    deg, rounds = kcore_fixed_point(edges, alive, k=2)
    core = {
        r["src"]: r["deg"] for r in deg.filter(F.col("deg") >= 2).collect()
    }
    assert core == {0: 2, 1: 2, 2: 2}
    # one tendril layer per round + the final drop-free confirm round
    assert rounds == 7


def test_kcore_fixed_point_stops_immediately_on_stable_graph(spark):
    """A clique is its own k-core: the fixed-point loop must confirm in
    ONE round (first round drops nothing), not burn a fixed budget."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.web_extract import kcore_fixed_point

    nodes = list(range(5))
    directed = [(a, b) for a in nodes for b in nodes if a < b]
    e = spark.createDataFrame(directed, "src long, dst long")
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    alive = spark.createDataFrame([(i,) for i in nodes], "v long")
    deg, rounds = kcore_fixed_point(edges, alive, k=3)
    assert rounds == 1
    assert deg.filter(F.col("deg") >= 3).count() == 5


def test_kcore_fixed_point_empty_graph(spark):
    """Empty-input invariant: no vertices, no throw, zero core."""
    from ocr_spark.operators.web_extract import kcore_fixed_point

    edges = spark.createDataFrame([], "src long, dst long")
    alive = spark.createDataFrame([], "v long")
    deg, rounds = kcore_fixed_point(edges, alive, k=2)
    assert deg.count() == 0 and rounds == 1


def test_lpa_communities_matches_pure_python_replay(spark, tmp_path):
    """LPA on the synthesized 12-node graph, replayed exactly in pure
    Python (same symmetrized edges, same (count desc, label asc)
    argmax, same round budget)."""
    from collections import Counter

    from ocr_spark.operators.web_extract import LPA_ROUNDS, lpa_communities

    d = str(tmp_path)
    n = 12
    rows = [(i, f"t{i}", "en", "s", 10) for i in range(n)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    edges = set()
    for i in range(n):
        for dst in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if dst != i:
                edges.add((i, dst))
    und = edges | {(b, a) for a, b in edges}
    labels = {i: i for i in range(n)}
    for _ in range(LPA_ROUNDS):
        new = {}
        for v in range(n):
            votes = Counter(labels[dst] for (s, dst) in und if s == v)
            if votes:
                new[v] = min(votes, key=lambda l: (-votes[l], l))
            else:
                new[v] = labels[v]
        labels = new
    sizes = Counter(labels.values())

    got = {r["doc_id"]: r for r in lpa_communities(spark, d).collect()}
    assert len(got) == n
    for v in range(n):
        assert got[v]["community"] == labels[v], v
        assert got[v]["community_size"] == sizes[labels[v]]


def test_ktruss_python_replay_and_truss_invariant(spark, tmp_path):
    """ktruss_edges must equal a from-scratch set-based peel of the
    same deterministic graph, every surviving edge must sit in >=
    TRUSS_K-2 triangles OF THE SURVIVOR SET, and peeling the survivor
    set once more must change nothing (fixed point)."""
    from ocr_spark.operators.web_extract import TRUSS_K, ktruss_edges

    n = 30
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"t{i}", "en", "s", 2) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    edges = set()
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                edges.add((min(i, t), max(i, t)))

    def peel_round(es):
        sup = {}
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        for a, b in es:
            c = adj.get(a, set()) & adj.get(b, set())
            if c:
                sup[(a, b)] = len(c)
        return {e: s for e, s in sup.items() if s >= TRUSS_K - 2}

    cur = {e: 0 for e in edges}
    while True:
        nxt = peel_round(set(cur))
        if set(nxt) == set(cur):
            cur = nxt
            break
        cur = nxt
        if not cur:
            break

    got = {(r["a"], r["b"]): r["support"]
           for r in ktruss_edges(spark, d).collect()}
    assert got == cur
    # invariant + idempotence, independent of the replay
    assert peel_round(set(got)) == got or (not got)


def test_link_prediction_jaccard_hand_graph(spark, tmp_path):
    """Python-replayed neighborhood Jaccard on the deterministic n=20
    graph: every emitted pair must be a TRUE non-edge with the exact
    cn / degree / union arithmetic, and every non-edge with >= 2
    common neighbors must be present."""
    from ocr_spark.operators.web_extract import (
        LP_MIN_CN,
        link_prediction_jaccard,
    )

    n = 20
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"t{i}", "en", "s", 2) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    adj = {i: set() for i in range(n)}
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                adj[i].add(t)
                adj[t].add(i)
    expected = {}
    for u in range(n):
        for v in range(u + 1, n):
            if v in adj[u]:
                continue
            cn = len(adj[u] & adj[v])
            if cn >= LP_MIN_CN:
                uni = len(adj[u]) + len(adj[v]) - cn
                expected[(u, v)] = (
                    cn, len(adj[u]), len(adj[v]),
                    (2 * cn * 10**6 + uni) // (2 * uni),
                )
    got = {
        (r["u"], r["v"]): (r["cn"], r["deg_u"], r["deg_v"],
                           r["jaccard_ppm"])
        for r in link_prediction_jaccard(spark, d).collect()
    }
    assert got == expected and expected  # non-vacuous


def test_degree_assortativity_hand_graphs(spark, tmp_path):
    """Assortativity replayed in pure Python on the deterministic
    graph, plus sign sanity: a star graph would be maximally
    disassortative (checked in the replay helper on crafted edges)."""
    from fractions import Fraction

    from ocr_spark.operators.web_extract import degree_assortativity

    n = 25
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"t{i}", "en", "s", 2) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    edges = set()
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                edges.add((min(i, t), max(i, t)))
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    sym = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    xs = [deg[a] for a, _ in sym]
    ys = [deg[b] for _, b in sym]
    m = len(sym)
    num = m * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
    v1 = m * sum(x * x for x in xs) - sum(xs) ** 2
    v2 = m * sum(y * y for y in ys) - sum(ys) ** 2

    def isqrt_exact(v):
        import math
        r = math.isqrt(v)
        return r

    if v1 <= 0 or v2 <= 0:
        expected = 0
    else:
        den = isqrt_exact(v1) * isqrt_exact(v2)
        sign = -1 if num < 0 else 1
        expected = sign * ((1_000_000 * abs(num)) // den)

    out = degree_assortativity(spark, d).collect()
    assert len(out) == 1
    assert out[0]["n_directed_edges"] == m
    assert out[0]["assortativity_ppm"] == expected
    # exact-Pearson bound sanity in ppm (isqrt flooring can push the
    # ratio a hair over 1e6 only when variance terms are tiny)
    assert abs(out[0]["assortativity_ppm"]) <= 1_100_000
    assert Fraction(num, 1)  # replay is non-degenerate


def test_wl_refinement_python_replay_and_symmetry(spark, tmp_path):
    """WL colors replayed from scratch with hashlib on the n=12
    deterministic graph, plus the core WL property: two nodes with
    isomorphic depth-WL_ROUNDS neighborhoods share a color (checked
    via the replay), and class sizes sum to n."""
    import hashlib

    from ocr_spark.operators.web_extract import WL_ROUNDS, wl_refinement

    n = 12
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"t{i}", "en", "s", 2) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    adj = {i: set() for i in range(n)}
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                adj[i].add(t)
                adj[t].add(i)
    lbl = {v: str(len(adj[v])) for v in range(n)}
    for _ in range(WL_ROUNDS):
        nxt = {}
        for v in range(n):
            nls = ",".join(sorted((lbl[u] for u in adj[v])))
            h = hashlib.md5(f"{lbl[v]}|{nls}".encode()).hexdigest()[:8]
            nxt[v] = str(int(h, 16))
        lbl = nxt
    from collections import Counter
    sizes = Counter(lbl.values())

    got = {r["doc_id"]: (r["wl_label"], r["class_size"])
           for r in wl_refinement(spark, d).collect()}
    assert len(got) == n
    for v in range(n):
        assert got[v] == (int(lbl[v]), sizes[lbl[v]]), v
    assert sum(s for _, s in set(got.values())) >= n  # classes cover n


def test_hyperball_exact_and_registers_on_crafted_graph(spark, tmp_path):
    """On an n=6 crafted graph, the exact ball-pair counts per hop must
    equal an independent Python BFS, and the HLL estimate column must
    equal an independent Python recomputation of the register algebra
    (md5-32 hash, max-merge recurrence, integer half-away estimate) —
    including hop 0, where every node's sketch holds exactly itself."""
    import hashlib

    from ocr_spark.operators.web_extract import (
        HB_ALPHA_PPM,
        HB_HOPS,
        HB_M,
        HB_P,
        HB_Q,
        hyperball_neighborhood,
    )

    d = str(tmp_path)
    n = 6
    spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    succ = {i: set() for i in range(n)}
    for i in range(n):
        for a, b in ((7, 1), (13, 2), (31, 3)):
            t = (i * a + b) % n
            if t != i:
                succ[i].add(t)

    # exact balls by BFS
    balls = {i: {i} for i in range(n)}
    exact = [sum(len(b) for b in balls.values())]
    for _ in range(HB_HOPS):
        balls = {
            v: balls[v] | set().union(*(balls[w] for w in succ[v]))
            if succ[v] else set(balls[v])
            for v in balls
        }
        exact.append(sum(len(b) for b in balls.values()))

    # register reference: same hash, same recurrence, same estimate
    lo = 1 << (32 - HB_P)
    def reg_of(v: int) -> tuple[int, int]:
        hv = int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
        rem = hv % lo
        rank = HB_Q if rem == 0 else HB_Q - (rem.bit_length())
        return hv // lo, rank

    regs = {v: {reg_of(v)[0]: reg_of(v)[1]} for v in range(n)}

    def est_sum(r) -> int:
        tot = 0
        for v in r:
            s_inv = sum(1 << (HB_Q - m) for m in r[v].values())
            s_inv += (HB_M - len(r[v])) * (1 << HB_Q)
            tot += (
                2 * HB_ALPHA_PPM * HB_M * HB_M * (1 << HB_Q)
                + s_inv * 1_000_000
            ) // (2 * s_inv * 1_000_000)
        return tot

    ests = [est_sum(regs)]
    for _ in range(HB_HOPS):
        nxt = {}
        for v in range(n):
            merged = dict(regs[v])
            for w in succ[v]:
                for b, m in regs[w].items():
                    merged[b] = max(merged.get(b, 0), m)
            nxt[v] = merged
        regs = nxt
        ests.append(est_sum(regs))

    rows = hyperball_neighborhood(spark, d).collect()
    assert [r["hop"] for r in rows] == list(range(HB_HOPS + 1))
    assert [r["exact_pairs"] for r in rows] == exact
    assert [r["est_pairs"] for r in rows] == ests
    # N(t) is nondecreasing in t
    assert exact == sorted(exact)


def test_harmonic_centrality_matches_python_register_reference(spark, tmp_path):
    """Per-node harmonic scores equal an independent Python replay of
    the register recurrence + delta fold on the crafted n=6 graph, the
    deltas are provably non-negative (register monotonicity), and a hub
    that reaches everything in 1 hop outranks a leaf."""
    import hashlib

    from ocr_spark.operators.web_extract import (
        HB_ALPHA_PPM,
        HB_HOPS,
        HB_M,
        HB_P,
        HB_Q,
        harmonic_centrality,
    )

    d = str(tmp_path)
    n = 6
    spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    succ = {i: set() for i in range(n)}
    for i in range(n):
        for a, b in ((7, 1), (13, 2), (31, 3)):
            t = (i * a + b) % n
            if t != i:
                succ[i].add(t)

    lo = 1 << (32 - HB_P)

    def reg_of(v: int) -> tuple[int, int]:
        hv = int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
        rem = hv % lo
        rank = HB_Q if rem == 0 else HB_Q - rem.bit_length()
        return hv // lo, rank

    def est(r: dict) -> int:
        s_inv = sum(1 << (HB_Q - m) for m in r.values())
        s_inv += (HB_M - len(r)) * (1 << HB_Q)
        return (
            2 * HB_ALPHA_PPM * HB_M * HB_M * (1 << HB_Q) + s_inv * 1_000_000
        ) // (2 * s_inv * 1_000_000)

    regs = {v: {reg_of(v)[0]: reg_of(v)[1]} for v in range(n)}
    series = {v: [est(regs[v])] for v in range(n)}
    for _ in range(HB_HOPS):
        nxt = {}
        for v in range(n):
            merged = dict(regs[v])
            for w in succ[v]:
                for b, m in regs[w].items():
                    merged[b] = max(merged.get(b, 0), m)
            nxt[v] = merged
        regs = nxt
        for v in range(n):
            series[v].append(est(regs[v]))
    expect = {
        v: sum(
            (series[v][t] - series[v][t - 1]) * 1_000_000 // t
            for t in range(1, HB_HOPS + 1)
        )
        for v in range(n)
    }
    for v in range(n):
        for t in range(1, HB_HOPS + 1):
            assert series[v][t] >= series[v][t - 1]  # monotone registers

    rows = {r["doc_id"]: r for r in harmonic_centrality(spark, d).collect()}
    assert set(rows) == set(range(n))
    for v in range(n):
        assert rows[v]["harmonic_ppm"] == expect[v], v
        assert rows[v]["reach_est"] == series[v][HB_HOPS]


def test_crawl_frontier_composition_and_topk(spark, sf_dir):
    """crawl_frontier == top-K of (uncrawled BFS-discovered) ∩ (robots
    allow), scored pr_ppb >> hop — verified against an independent
    composition of the three published board queries."""
    from ocr_spark.operators.web_extract import (
        FRONTIER_K,
        bfs_hop_distance,
        crawl_frontier,
        link_graph_pagerank,
        robots_gate,
    )

    hops = {r["doc_id"]: r["hop"]
            for r in bfs_hop_distance(spark, sf_dir).collect()}
    allow = {r["doc_id"] for r in robots_gate(spark, sf_dir).collect()
             if r["verdict"] == "allow"}
    pr = {r["doc_id"]: r["pr_ppb"]
          for r in link_graph_pagerank(spark, sf_dir).collect()}
    full = sorted(
        (
            (pr[d] >> h, d)
            for d, h in hops.items()
            if h >= 1 and d in allow
        ),
        key=lambda t: (-t[0], t[1]),
    )
    expect = full[:FRONTIER_K]
    got = crawl_frontier(spark, sf_dir).collect()
    assert [(r["priority_ppb"], r["doc_id"]) for r in got] == expect
    assert all(r["priority_ppb"] == pr[r["doc_id"]] >> r["hop"] for r in got)


def test_louvain_matches_python_recomputation(spark, sf_dir):
    """Independent pure-Python replay of the synchronous modularity-
    greedy level-1 rounds on the same synthesized graph — pins the
    integer score, the own-community candidate, and the (score desc,
    community asc) tie rule."""
    import duckdb

    from ocr_spark.operators.web_extract import (
        LOUVAIN_ROUNDS,
        louvain_two_level,
    )

    n = duckdb.sql(
        f"select count(*) from read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    und: dict[int, set[int]] = {i: set() for i in range(n)}
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                und[i].add(t)
                und[t].add(i)
    deg = {u: len(vs) for u, vs in und.items()}
    m = sum(deg.values()) // 2
    lab = {u: u for u in range(n)}
    for _ in range(LOUVAIN_ROUNDS):
        sig: dict[int, int] = {}
        for u in range(n):
            sig[lab[u]] = sig.get(lab[u], 0) + deg[u]
        new = {}
        for u in range(n):
            k: dict[int, int] = {lab[u]: 0}
            for v in und[u]:
                k[lab[v]] = k.get(lab[v], 0) + 1
            best = min(
                (
                    (
                        -(2 * m * kc - deg[u]
                          * (sig[c] - (deg[u] if c == lab[u] else 0))),
                        c,
                    )
                    for c, kc in k.items()
                ),
            )
            new[u] = best[1]
        lab = new
    from collections import Counter

    sizes = Counter(lab.values())
    got = louvain_two_level(spark, sf_dir).collect()
    assert {r["doc_id"]: r["community_l1"] for r in got} == lab
    # sanity: the partition is non-trivial (real communities formed)
    assert 1 < len(sizes) < n


def test_politeness_schedule_dense_per_host_slots(spark, sf_dir):
    """Within each host: slots are dense 0..n-1 and priority is
    non-increasing in slot order; the frontier rows pass through
    unchanged."""
    from ocr_spark.operators.web_extract import (
        crawl_frontier,
        politeness_schedule,
    )

    rows = politeness_schedule(spark, sf_dir).collect()
    assert len(rows) == crawl_frontier(spark, sf_dir).count()
    by_host: dict[str, list] = {}
    for r in rows:
        assert r["host"] == f"site{r['doc_id'] % 5}.com"
        by_host.setdefault(r["host"], []).append(r)
    for host, hr in by_host.items():
        hr.sort(key=lambda r: r["slot"])
        assert [r["slot"] for r in hr] == list(range(len(hr)))
        pr = [r["priority_ppb"] for r in hr]
        assert pr == sorted(pr, reverse=True)


def test_louvain_two_level_hierarchy_and_replay(spark, sf_dir):
    """Level-2 replayed in pure Python (contract + weighted sweeps with
    the same integer score); hierarchy invariants: every l1 community
    maps to exactly one l2 community and level 2 only merges."""
    import duckdb

    from ocr_spark.operators.web_extract import (
        LOUVAIN_ROUNDS,
        louvain_two_level,
    )

    got = louvain_two_level(spark, sf_dir).collect()
    l1 = {r["doc_id"]: r["community_l1"] for r in got}
    n = duckdb.sql(
        f"select count(*) from read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    und: dict[int, set[int]] = {i: set() for i in range(n)}
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                und[i].add(t)
                und[t].add(i)
    m = sum(len(v) for v in und.values()) // 2
    # contract
    from collections import defaultdict

    w2: dict[tuple[int, int], int] = defaultdict(int)
    for a in range(n):
        for b in und[a]:
            w2[(l1[a], l1[b])] += 1
    deg2: dict[int, int] = defaultdict(int)
    for (ca, _cb), w in w2.items():
        deg2[ca] += w
    nodes = sorted({c for c in l1.values()})
    lab = {c: c for c in nodes}
    for _ in range(LOUVAIN_ROUNDS):
        sig: dict[int, int] = defaultdict(int)
        for u in nodes:
            sig[lab[u]] += deg2[u]
        new = {}
        for u in nodes:
            k: dict[int, int] = {lab[u]: 0}
            for (a, b), w in w2.items():
                if a == u and b != u:
                    k[lab[b]] = k.get(lab[b], 0) + w
            best = min(
                (-(2 * m * kc - deg2[u]
                   * (sig[c] - (deg2[u] if c == lab[u] else 0))), c)
                for c, kc in k.items()
            )
            new[u] = best[1]
        lab = new
    assert {r["doc_id"]: r["community_l2"] for r in got} == {
        d: lab[c] for d, c in l1.items()
    }
    l1_to_l2 = {}
    for r in got:
        prev = l1_to_l2.setdefault(r["community_l1"], r["community_l2"])
        assert prev == r["community_l2"]  # one l2 per l1 community
    assert len(set(l1_to_l2.values())) <= len(l1_to_l2)


def test_deepwalk_pairs_replay(spark, sf_dir):
    """Pure-Python replay of the hash-argmin walks: same md5 ordering,
    same edges, WALK_LEN contexts per seed."""
    import hashlib

    import duckdb

    from ocr_spark.operators.web_extract import (
        WALK_LEN, WALK_SEED_MOD, deepwalk_pairs,
    )

    n = duckdb.sql(
        f"select count(*) from read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    und: dict[int, set[int]] = {i: set() for i in range(n)}
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                und[i].add(t)
                und[t].add(i)
    expect = {}
    for s in range(0, n, WALK_SEED_MOD):
        v = s
        for t in range(1, WALK_LEN + 1):
            v = min(
                und[v],
                key=lambda u: (
                    hashlib.md5(f"{v}:{u}:{t}".encode()).hexdigest(), u
                ),
            )
            expect[(s, t)] = v
    got = {
        (r["start"], r["step"]): r["context"]
        for r in deepwalk_pairs(spark, sf_dir).collect()
    }
    assert got == expect


def test_adamic_adar_weights_vs_jaccard(spark, sf_dir):
    """AA candidates coincide with the Jaccard link-prediction pairs
    (same wedge/anti-join machinery) and each pair's score equals the
    per-center sum of half-away(1000 / floor_log2(deg)) recomputed in
    Python."""
    import duckdb

    from ocr_spark.operators.web_extract import (
        adamic_adar_pairs,
        link_prediction_jaccard,
    )

    n = duckdb.sql(
        f"select count(*) from read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    und: dict[int, set[int]] = {i: set() for i in range(n)}
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                und[i].add(t)
                und[t].add(i)
    got = {(r["u"], r["v"]): r for r in adamic_adar_pairs(spark, sf_dir).collect()}
    jac = {(r["u"], r["v"]) for r in link_prediction_jaccard(spark, sf_dir).collect()}
    assert set(got) == jac
    for (u, v), r in got.items():
        common = und[u] & und[v]
        assert r["cn"] == len(common)
        expect = sum(
            (2 * 1000 + (len(und[w]).bit_length() - 1))
            // (2 * (len(und[w]).bit_length() - 1))
            for w in common
        )
        assert r["aa_milli"] == expect
