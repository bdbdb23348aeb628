"""Webtext-layer behavior and plan-shape tests.

Oracle agreement for the webtext registry entries is covered by
test_datapipe.py's parametrized gate; here we pin the behaviors the
oracle comparison can't see (canonicalization rules on crafted inputs,
Bloom no-false-negative invariant, tercile balance, PageRank floors)
and the plan shapes that make each op viable at 100 TB.
"""

from pdftotext_plus_plus_spark.datapipe import webtext

SF_DIR = "/root/testdata/sf0.001"


def _canon(spark, pairs):
    df = spark.createDataFrame(pairs, "doc_id long, source string")
    return {r["doc_id"]: (r["raw_url"], r["canon_url"])
            for r in webtext._canon_urls(df).collect()}


def test_canonicalization_rules_on_crafted_variants(spark):
    # doc_ids chosen to hit each synthesis variant (see _RAW_URL_SPARK)
    got = _canon(spark, [(30, "srca"), (7, "srcb"), (133, "srcc"),
                         (34, "srcd"), (13, "srce"), (11, "srcf"),
                         (1, "srcg")])
    # 30: %2 utm, %3 www, %5 upper -> all normalized away
    raw, canon = got[30]
    assert raw == "http://WWW.SRCA.EXAMPLE.COM/p/5?utm_source=feed&utm_campaign=c2"
    assert canon == "http://srca.example.com/p/5"
    # 7: default port 80 stripped
    raw, canon = got[7]
    assert ":80" in raw and canon == "http://srcb.example.com/p/7"
    # 133 = 7*19: https with default :443 stripped, scheme preserved
    raw, canon = got[133]
    assert raw.startswith("https://") and ":443" in raw
    assert canon == "https://srcc.example.com/p/8"
    # 34: utm param dropped but the id param KEPT
    raw, canon = got[34]
    assert "utm_source" in raw and canon == "http://srcd.example.com/p/9?id=7"
    # 13: fragment stripped
    raw, canon = got[13]
    assert "#sec2" in raw and "#" not in canon
    # 11: trailing slash stripped
    raw, canon = got[11]
    assert raw.endswith("/p/11/") and canon.endswith("/p/11")
    # 1: no variants -> identity modulo nothing to normalize
    raw, canon = got[1]
    assert raw == canon == "http://srcg.example.com/p/1"


def test_canonical_urls_are_fully_normalized_at_sf(spark):
    urls = [r["canon_url"] for r in
            webtext._canon_urls(
                spark.read.parquet(f"{SF_DIR}/documents.parquet")).collect()]
    assert urls
    for u in urls:
        assert "#" not in u and ":80" not in u and ":443" not in u
        assert "utm_" not in u and "://www." not in u
        assert u == u.lower() or "?id=" in u  # host/scheme lowered
        assert not (u.endswith("/") and u.count("/") > 3)


def test_url_dedup_first_doc_wins(spark):
    rows = webtext.url_normalize_dedup(spark, SF_DIR).collect()
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r["canon_url"], []).append(r)
    multi = [g for g in by_canon.values() if len(g) > 1]
    assert multi, "synthetic corpus must contain URL-dup groups"
    for g in by_canon.values():
        keepers = [r for r in g if r["keep"] == 1]
        assert len(keepers) == 1
        assert keepers[0]["doc_id"] == min(r["doc_id"] for r in g)
        assert all(r["group_size"] == len(g) for r in g)


def test_bloom_filter_no_false_negatives_and_bounded_fp(spark):
    rows = webtext.bloom_url_filter(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r["exact_hit"] == 1:      # Bloom filters never miss members
            assert r["bloom_hit"] == 1
        assert r["is_fp"] == int(r["bloom_hit"] == 1 and r["exact_hit"] == 0)
    clean = [r for r in rows if r["exact_hit"] == 0]
    fp_rate = sum(r["is_fp"] for r in clean) / max(1, len(clean))
    assert fp_rate < 0.10  # m=256,k=4 at this blocklist size


def test_perplexity_terciles_balanced_and_ordered(spark):
    rows = webtext.perplexity_buckets(spark, SF_DIR).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, g in by_lang.items():
        sizes = [sum(1 for r in g if r["bucket"] == b) for b in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        scores = {b: [r["mean_centibits"] for r in g if r["bucket"] == b]
                  for b in (1, 2, 3)}
        if scores[1] and scores[2]:
            assert max(scores[1]) <= min(scores[2])
        if scores[2] and scores[3]:
            assert max(scores[2]) <= min(scores[3])
        bands = {r["bucket"]: r["band"] for r in g}
        assert all(bands.get(b, n) == n for b, n in
                   ((1, "head"), (2, "middle"), (3, "tail")))


def test_pagerank_floor_conservation_and_degrees(spark):
    rows = webtext.link_pagerank(spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    for r in rows:
        assert r["rank_ppm"] >= 150_000          # teleport floor
        assert 1 <= r["out_deg"] <= 3
    total = sum(r["rank_ppm"] for r in rows)
    # mass is conserved up to integer-floor leakage (and never created)
    assert total <= n * webtext.PAGERANK_UNIT
    assert total >= int(0.90 * n * webtext.PAGERANK_UNIT)
    assert len({r["rank_ppm"] for r in rows}) > 10  # varying degrees spread


def test_canonicalizer_is_generic_on_arbitrary_urls(spark):
    """The canonicalizer never inverts the synthesis — it must normalize
    ARBITRARY messy URLs, including shapes the synthetic corpus never
    produces."""
    cases = [
        ("HTTP://EXAMPLE.COM", "http://example.com/"),          # no path
        ("https://www.a.org:443/x/", "https://a.org/x"),
        ("http://a.org:8080/x", "http://a.org:8080/x"),         # odd port kept
        ("http://a.org/x?utm_a=1&q=2&utm_b=3", "http://a.org/x?q=2"),
        ("http://a.org/x?utm_a=1&utm_b=3", "http://a.org/x"),   # all tracking
        ("http://a.org/?b=1#frag", "http://a.org/?b=1"),
        ("http://www.www-site.net/p", "http://www-site.net/p"), # only prefix
        # double-? : everything after the FIRST ? is the query; the
        # second ? sits inside a non-utm param token, so it is kept
        ("http://a.org/x??y=1", "http://a.org/x??y=1"),
        # non-http(s) scheme: :443 is NOT its default port — kept
        ("ftp://a.org:443/x", "ftp://a.org:443/x"),
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)],
                               "doc_id long, raw_url string")
    got = {r["doc_id"]: r["c"] for r in
           df.select("doc_id", webtext._canon_col().alias("c")).collect()}
    for i, (raw, want) in enumerate(cases):
        assert got[i] == want, (raw, got[i], want)


# --- plan shapes -----------------------------------------------------------

def test_url_dedup_plan_is_mapside_canon_plus_one_agg(spark):
    plan = webtext.url_normalize_dedup(spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_domain_stats_window_is_over_aggregated_frame(spark):
    plan = webtext.domain_stats(spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    # the row_number window runs AFTER the domain aggregate (bounded rows)
    assert plan.index("HashAggregate") > plan.index("Window")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bloom_plan_broadcasts_bitset(spark):
    plan = webtext.bloom_url_filter(spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_perplexity_window_is_per_language(spark):
    plan = webtext.perplexity_buckets(spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    # the ntile window itself partitions by lang (never a global sort);
    # the only SinglePartition exchange allowed is the composed surprisal
    # plan's bounded 1-row corpus-total broadcast
    assert "windowspecdefinition(lang" in plan
    win_line = next(l for l in plan.splitlines() if "windowspecdefinition" in l)
    assert "SinglePartition" not in win_line


def test_pagerank_plan_keyed_joins_only(spark):
    df = webtext.link_pagerank(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # every iteration is join + hash agg; the rank vector never collects
    import inspect
    assert ".collect()" not in inspect.getsource(webtext.link_pagerank)


def test_redirect_doubling_plan_stays_flat(spark):
    """Each doubling reads the last mapping twice; the driver's
    checkpoints keep that self-join from expanding the base plan into a
    binary tree, so the optimized plan scans the documents table only
    for the final dangling-node join (three scans: the down edges, the
    cycle edges and their row count).  The last doubling itself stays in
    the plan, reading the checkpointed mapping before it twice."""
    df = webtext.redirect_resolution(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    scans = [l for l in plan.splitlines()
             if "Relation [" in l and l.endswith("parquet")]
    assert len(scans) <= 3, plan
    assert plan.count("LogicalRDD [") == 2, plan


def test_hits_plan_stays_flat(spark, monkeypatch):
    """Every HITS half-step reads its input twice (the edge join and the
    total); the driver's checkpoints keep those reads from doubling the
    plan per half-step, so the optimized plan scans the documents table
    as often at HITS_ITERS - 1 iterations as at HITS_ITERS (54 times;
    without the checkpoints, 570 times at 3 iterations)."""
    def scans():
        plan = webtext.hits_scores(spark, SF_DIR) \
            ._jdf.queryExecution().optimizedPlan().toString()
        return sum(1 for l in plan.splitlines()
                   if "Relation [" in l and l.endswith("parquet"))

    full = scans()
    monkeypatch.setattr(webtext, "HITS_ITERS", webtext.HITS_ITERS - 1)
    assert scans() == full <= 54


def test_robots_prefix_semantics_and_verdicts(spark):
    rows = webtext.robots_filter(spark, SF_DIR).collect()
    assert rows
    blocked = [r for r in rows if r["allowed"] == 0]
    assert blocked, "rule set must block some documents"
    for r in rows:
        assert r["allowed"] == int(
            not r["path"].startswith(r["disallow_prefix"]))
    # the PREFIX (not equality) behavior must be exercised: some blocked
    # path strictly longer than its disallow prefix (e.g. /p/1 vs /p/13)
    assert any(len(r["path"]) > len(r["disallow_prefix"]) for r in blocked)


def test_robots_plan_broadcasts_rules_dim(spark):
    plan = webtext.robots_filter(spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_inverted_index_postings_capped_but_counts_full(spark):
    rows = webtext.inverted_index(spark, SF_DIR).collect()
    assert rows
    import duckdb
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'")
    full = {r[0]: sorted(r[1]) for r in con.sql(
        "SELECT tok, list(DISTINCT doc_id) FROM ("
        "  SELECT doc_id, unnest(string_split_regex(trim(text, ' '),"
        "         '\\s+')) AS tok FROM documents) WHERE length(tok) > 0"
        " GROUP BY tok").fetchall()}
    capped = 0
    for r in rows:
        want = full[r["tok"]]
        assert r["df"] == len(want)              # df over the FULL set
        got = [int(x) for x in r["postings_head"].split(",")]
        assert got == want[: webtext.POSTINGS_HEAD]   # smallest doc_ids
        if len(want) > webtext.POSTINGS_HEAD:
            capped += 1
            assert len(got) == webtext.POSTINGS_HEAD
    assert capped > 0  # the cap is actually exercised


def test_inverted_index_plan_bounded_postings(spark):
    """Counts from a hash agg; the postings sample from a SPILL-able
    per-token sort window (never an unbounded collect_set buffer); the
    final join is the vocab dim, and nothing is a cartesian."""
    import inspect

    assert "F.collect_set" not in inspect.getsource(webtext.inverted_index)
    plan = webtext.inverted_index(spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(tok" in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_bm25_semantics_on_hand_corpus(spark, tmp_path):
    """BM25 over word-bigram terms: the query document retrieves itself
    first (the decontamination self-hit), a document repeating the query
    phrase outscores one mentioning it once (tf saturation still
    monotone), phrase-free documents never appear, and every score is a
    positive integer (the hash-exact micro-unit contract)."""
    import pandas as pd

    phrase = "alpha beta"
    filler = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (0, "alpha beta gamma delta"),              # the query doc
        (1, f"alpha beta alpha beta {filler('x', 8)}"),   # phrase twice
        (2, f"alpha beta {filler('y', 10)}"),             # phrase once
    ] + [(i, filler(f"z{i}_", 12)) for i in range(3, 12)]  # unrelated
    pd.DataFrame({
        "doc_id": pd.array([i for i, _ in rows], dtype="int64"),
        "text": [t for _, t in rows],
        "lang": ["en"] * len(rows),
        "source": ["unit"] * len(rows),
        "n_chars": pd.array([len(t) for _, t in rows], dtype="int64"),
    }).to_parquet(str(tmp_path / "documents.parquet"))
    got = {}
    for r in webtext.bm25_topk(spark, str(tmp_path)).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score_u"]))
    q0 = sorted(got[0])
    ranked_docs = [d for _, d, _ in q0]
    # self-hit first: doc 0 matches all three of its own bigrams
    assert ranked_docs[0] == 0, q0
    # tf monotonicity: doc 1 (phrase x2) above doc 2 (phrase x1)
    assert ranked_docs.index(1) < ranked_docs.index(2), q0
    # phrase-free docs never match any query-0 bigram
    assert set(ranked_docs) <= {0, 1, 2}, q0
    assert all(s > 0 for _, _, s in q0), q0


def test_bm25_stop_bigrams_prune_before_join(spark, tmp_path):
    """A bigram present in more than ~half the corpus gets idf 0 (the
    integer ratio (2N-2df+1)//(2df+1) floors to 0 — Lucene's negative-idf
    clamp) and is pruned from the query term table BEFORE the posting
    join, so a query made only of stop bigrams returns nothing."""
    import pandas as pd

    rows = [(i, "the end " + " ".join(f"u{i}_{j}" for j in range(6)))
            for i in range(10)]
    pd.DataFrame({
        "doc_id": pd.array([i for i, _ in rows], dtype="int64"),
        "text": [t for _, t in rows],
        "lang": ["en"] * len(rows),
        "source": ["unit"] * len(rows),
        "n_chars": pd.array([len(t) for _, t in rows], dtype="int64"),
    }).to_parquet(str(tmp_path / "documents.parquet"))
    out = webtext.bm25_topk(spark, str(tmp_path)).collect()
    # every doc's leading bigram "the end" has df = N -> idf 0 -> pruned;
    # the remaining query bigrams ("end u<i>_0", "u<i>_0 u<i>_1", ...)
    # are doc-unique -> each query doc can only ever retrieve itself
    for r in out:
        assert r["doc_id"] == r["query_id"], r


def test_hits_scores_match_pure_python_replay(spark):
    """The integer-exact HITS iteration replayed in pure Python from the
    same edge formula must reproduce every (authority_ppm, hub_ppm) row —
    a third, engine-independent implementation (the HLL property-test
    pattern), plus the structural invariants: ppm totals bounded by the
    scale, zero in-degree -> zero authority, zero out-degree -> zero hub."""
    rows = {r["doc_id"]: r
            for r in webtext.hits_scores(spark, SF_DIR).collect()}
    n = len(rows)
    assert n == 500

    edges = []
    for src in range(n):
        for j in range(1, webtext.PAGERANK_FANOUT + 1):
            if j <= 1 + src % webtext.PAGERANK_FANOUT:
                dst = (src * 7 + j) % n
                if dst != src:
                    edges.append((src, dst))
    hub = {v: 1000 for v in range(n)}
    auth = {}
    for _ in range(webtext.HITS_ITERS):
        araw = {v: 0 for v in range(n)}
        for s, d in edges:
            araw[d] += hub[s]
        ta = sum(araw.values())
        auth = {v: araw[v] * webtext.HITS_SCALE // ta for v in range(n)}
        hraw = {v: 0 for v in range(n)}
        for s, d in edges:
            hraw[s] += auth[d]
        th = sum(hraw.values())
        hub = {v: hraw[v] * webtext.HITS_SCALE // th for v in range(n)}

    for v in range(n):
        assert rows[v]["authority_ppm"] == auth[v], v
        assert rows[v]["hub_ppm"] == hub[v], v
    assert sum(auth.values()) <= webtext.HITS_SCALE
    assert sum(hub.values()) <= webtext.HITS_SCALE
    for v, r in rows.items():
        if r["in_deg"] == 0:
            assert r["authority_ppm"] == 0
        if r["out_deg"] == 0:
            assert r["hub_ppm"] == 0


def test_hits_scores_degenerate_corpus_yields_zero_not_null(spark, tmp_path):
    """A corpus whose generated edge set is empty (one document: every
    candidate edge is a self-loop) must yield all-zero scores, not NULLs
    from a //-by-NULL total (round-8 review finding)."""
    import pandas as pd

    pd.DataFrame({
        "doc_id": pd.array([0], dtype="int64"),
        "text": ["solo page"],
        "lang": ["en"], "source": ["unit"],
        "n_chars": pd.array([9], dtype="int64"),
    }).to_parquet(str(tmp_path / "documents.parquet"))
    rows = webtext.hits_scores(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["authority_ppm"] == 0 and r["hub_ppm"] == 0
    assert r["out_deg"] == 0 and r["in_deg"] == 0


def test_ccnet_pipeline_dup_band_and_keep(spark, tmp_path):
    """CCNet composition invariants on a corpus WITH exact duplicates
    (the sf fixtures have none): duplicate rows are banded 'dup' with
    keep=0 and can never shift a band boundary; first copies split into
    per-language terciles (counts differ by <= 1); keep == first copy in
    head/middle.  Spark and the DuckDB oracle agree on the dup rows."""
    import duckdb
    import pandas as pd

    texts, langs = [], []
    for i in range(24):
        texts.append("alpha beta gamma delta %d word%d" % (i, i % 7))
        langs.append("en" if i % 2 == 0 else "fr")
    # doc 24..29 duplicate docs 0..5 verbatim (same lang)
    for i in range(6):
        texts.append(texts[i])
        langs.append(langs[i])
    pdf = pd.DataFrame({
        "doc_id": list(range(30)),
        "text": texts,
        "lang": langs,
        "source": ["t"] * 30,
        "n_chars": [len(t) for t in texts],
    })
    root = tmp_path / "ccnet"
    root.mkdir()
    pdf.to_parquet(root / "documents.parquet")

    out = webtext.ccnet_pipeline(spark, str(root)).collect()
    rows = {r["doc_id"]: r for r in out}
    assert len(rows) == 30
    for i in range(24, 30):
        assert rows[i]["is_first_copy"] == 0
        assert rows[i]["band"] == "dup"
        assert rows[i]["bucket"] == 0
        assert rows[i]["keep"] == 0
    firsts = [r for r in out if r["is_first_copy"] == 1]
    assert len(firsts) == 24
    for lang in ("en", "fr"):
        buckets = [r["bucket"] for r in firsts if r["lang"] == lang]
        counts = [buckets.count(b) for b in (1, 2, 3)]
        assert max(counts) - min(counts) <= 1
    for r in out:
        assert r["keep"] == int(r["is_first_copy"] == 1
                                and r["band"] in ("head", "middle"))

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{root}/documents.parquet'")
    rel = con.sql(webtext.CCNET_PIPELINE_SQL)
    drows = {r[0]: r for r in rel.fetchall()}
    cols = [d[0] for d in rel.description]
    for r in out:
        assert tuple(r[c] for c in cols) == drows[r["doc_id"]]


# ---------------------------------------------------------------------------
# batch #14: host-level template (boilerplate) detection
# ---------------------------------------------------------------------------

def test_host_template_ratio_injected_lines(spark):
    """The detector recovers the construction's intent on a hand-built
    host: 100%- and 75%-presence lines are template, the 20% ad line and
    unique body lines are not, and the detemplated md5 matches a
    pure-Python rederivation."""
    import hashlib
    rows = {r["doc_id"]: r
            for r in webtext.host_template_ratio(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    by_host = {}
    for d in docs:
        by_host.setdefault(d["source"], []).append(d)
    # python rederivation of lines + host df for a couple of hosts
    for source in list(by_host)[:3]:
        ds = by_host[source]
        pages = {}
        for d in ds:
            lines = [f"nav: {source} home about contact"]
            if (d["doc_id"] // 20) % 4 != 0:
                lines.append(f"promo: subscribe to {source}")
            if (d["doc_id"] // 20) % 5 == 0:
                lines.append(f"ad: special offer {source}")
            words = d["text"].split(" ")
            k = webtext.TEMPLATE_BODY_WORDS
            lines += [" ".join(words[i:i + k])
                      for i in range(0, len(words), k)]
            lines.append(f"footer: (c) {source} all rights reserved")
            pages[d["doc_id"]] = lines
        n_docs = len(pages)
        df = {}
        for doc_id, lines in pages.items():
            for ln in set(lines):
                df[ln] = df.get(ln, 0) + 1
        for doc_id, lines in pages.items():
            is_t = [int(df[ln] * 100 >= n_docs * webtext.TEMPLATE_DF_PCT
                        and n_docs >= webtext.TEMPLATE_MIN_HOST_DOCS)
                    for ln in lines]
            r = rows[doc_id]
            assert r["host"] == f"{source}.example.com"
            assert r["n_lines"] == len(lines)
            assert r["n_template_lines"] == sum(is_t)
            assert r["template_permille"] == sum(is_t) * 1000 // len(lines)
            clean = "\n".join(ln for ln, t in zip(lines, is_t) if not t)
            assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest()
            # the injected nav/footer are ALWAYS template (df = 100%),
            # the ad line never is (20% < the 50% cut)
            assert is_t[0] == 1 and is_t[-1] == 1
            if (doc_id // 20) % 5 == 0:
                ad = lines.index(f"ad: special offer {source}")
                assert is_t[ad] == 0
            if (doc_id // 20) % 4 != 0:
                promo = lines.index(f"promo: subscribe to {source}")
                assert is_t[promo] == 1


def test_host_template_ratio_singleton_host_has_no_template():
    """A host with a single page yields zero template lines (no
    document-frequency evidence, the MIN_HOST_DOCS guard)."""
    import duckdb
    con = duckdb.connect()
    con.execute("""create view documents as select * from (values
        (0, 'alpha beta gamma delta', 'en', 'solo', 22)
      ) t(doc_id, text, lang, source, n_chars)""")
    out = con.execute(webtext.HOST_TEMPLATE_RATIO_SQL).fetchall()
    assert len(out) == 1
    _, host, n_lines, n_t, permille, _ = out[0]
    assert host == "solo.example.com"
    assert n_t == 0 and permille == 0
    # doc 0: nav + ad (0 // 20 % 5 == 0; no promo, 0 // 20 % 4 == 0)
    # + one 4-word body chunk + footer
    assert n_lines == 4


# ---------------------------------------------------------------------------
# batch #15: recrawl-rate estimation + postings gap accounting
# ---------------------------------------------------------------------------

def test_change_rate_estimate_matches_python_rederivation(spark):
    """Per-domain counts and the integer rate/interval math match a
    pure-Python rederivation of the snapshot carving; domains must see
    DIFFERENT mixes (the phase-shift requirement)."""
    rows = {r["domain"]: r
            for r in webtext.change_rate_estimate(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "source").collect()
    agg = {}
    for d in docs:
        key = d["doc_id"] // 20 + d["doc_id"] % 20
        in_a, in_b = key % 4 != 3, key % 4 != 1
        changed = key % 5 == 0
        st = ("added" if not in_a else
              "removed" if not in_b else
              "changed" if changed else "unchanged")
        dom = f"{d['source']}.example.com"
        a = agg.setdefault(dom, {"common": 0, "changed": 0,
                                 "added": 0, "removed": 0})
        if st in ("changed", "unchanged"):
            a["common"] += 1
        if st in ("changed", "added", "removed"):
            a[st] += 1
    permilles = set()
    for dom, a in agg.items():
        r = rows[dom]
        assert r["n_common"] == a["common"]
        assert r["n_changed"] == a["changed"]
        assert r["n_added"] == a["added"]
        assert r["n_removed"] == a["removed"]
        pm = 1000 * a["changed"] // max(a["common"], 1)
        assert r["change_permille"] == pm
        assert r["recrawl_hours"] == min(
            webtext.RECRAWL_MAX_HOURS,
            max(webtext.RECRAWL_MIN_HOURS,
                webtext.RECRAWL_BASE // max(pm, 1)))
        permilles.add(pm)
    assert len(permilles) >= 3, "domains must see different change mixes"


def test_postings_gap_stats_varint_math(spark):
    """Gap and varint arithmetic vs a pure-Python rederivation of the
    posting lists; sum(gaps) == last doc id + 1 (the sentinel -1
    self-check); ratio always <= 1000 (varint never beats 8-byte ids
    backwards)."""
    rows = {r["tok"]: r
            for r in webtext.postings_gap_stats(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").collect()
    postings = {}
    for d in docs:
        for t in set(d["text"].split()):
            postings.setdefault(t, set()).add(d["doc_id"])
    assert set(rows) == set(postings)
    for tok, ids in postings.items():
        ids = sorted(ids)
        gaps = [ids[0] + 1] + [b - a for a, b in zip(ids, ids[1:])]
        vb = sum((g.bit_length() + 6) // 7 for g in gaps)
        r = rows[tok]
        assert r["df"] == len(ids)
        assert r["max_gap"] == max(gaps)
        assert r["sum_gaps"] == sum(gaps) == ids[-1] + 1
        assert r["varint_bytes"] == vb
        assert r["plain_bytes"] == 8 * len(ids)
        assert r["ratio_permille"] == 1000 * vb // (8 * len(ids)) <= 1000
