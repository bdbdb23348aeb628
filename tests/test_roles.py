"""T15 surface: layout features, BPE encoder, heuristic role head, and the
T17 role filter on the serializers."""

import random
from dataclasses import replace

from pdftotext_plus_plus_spark import fixtures, pipeline, serializers
from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG
from pdftotext_plus_plus_spark.kernel.roles import (BytePairEncoder,
                                                    compute_layout_features,
                                                    split_into_words)

ROLES_ON = replace(DEFAULT_CONFIG, skip_semantic_roles=False)


def test_split_into_words():
    assert split_into_words("This is  some\ttext") == ["This", "is", "some", "text"]
    assert split_into_words("  lead trail  ") == ["lead", "trail"]
    assert split_into_words("") == []


def test_bpe_greedy_first_pair():
    # vocab order matters: the FIRST occurring pair in the vocab merges
    vocab = {"ab": 0, "abc": 1, "c✂": 2, "a": 3, "b": 4, "c": 5}
    enc = BytePairEncoder(vocab)
    # "abc" + ✂ -> pairs: ab, bc, c✂ ; 'ab' in vocab -> ["ab","c","✂"]
    # next pairs: "abc", "c✂" ; 'abc' in vocab -> ["abc","✂"]; "abc✂" not
    ids = enc.encode("abc", 5)
    pad = enc.vocab["⊛"]
    delim = enc.vocab["✂"]
    assert ids == [1, delim, pad, pad, pad]  # "abc", "✂", pads


def test_bpe_pad_truncate():
    vocab = {"a": 0, "b": 1}
    enc = BytePairEncoder(vocab)
    ids = enc.encode("a b a b a b", 4)
    assert len(ids) == 4
    ids2 = enc.encode("a", 6)
    assert len(ids2) == 6


def test_layout_features_shape_and_ranges():
    rng = random.Random(11)
    payload, _ = fixtures.FAMILY_BUILDERS["headings"](rng)
    res = pipeline.extract(payload, keep_doc=True)
    feats = compute_layout_features(res.doc)
    assert len(feats) == res.n_blocks
    for row in feats:
        assert len(row) == 15
        # normalized coords and ratios stay in [0, 1]
        for v in row:
            assert -0.001 <= v <= 1.001
    # the heading block (largest font) has fs_enc == 1.0
    assert any(row[5] == 1.0 for row in feats)


def test_heuristic_roles_headings():
    rng = random.Random(11)
    payload, _ = fixtures.FAMILY_BUILDERS["headings"](rng)
    res = pipeline.extract(payload, config=ROLES_ON, with_spans=True)
    roles = [b.role for b in res.blocks]
    # the 14pt bold heading becomes title (first emphasized max-font block)
    assert roles[0] == "title"
    assert all(r == "paragraph" for r in roles[1:])


def test_heuristic_roles_footnote_and_caption():
    rng = random.Random(11)
    payload, _ = fixtures.FAMILY_BUILDERS["subsuper"](rng)
    res = pipeline.extract(payload, config=ROLES_ON, with_spans=True)
    roles = [b.role for b in res.blocks]
    assert roles.count("footnote") == 2

    payload, _ = fixtures.FAMILY_BUILDERS["figures"](rng)
    res = pipeline.extract(payload, config=ROLES_ON, with_spans=True)
    roles = [b.role for b in res.blocks]
    assert "caption" in roles


def test_role_filter_serialization():
    """T17: serializers drop blocks whose role is filtered out
    (PlainTextSerializer.cpp:47-49)."""
    rng = random.Random(11)
    payload, _ = fixtures.FAMILY_BUILDERS["headings"](rng)
    res = pipeline.extract(payload, config=ROLES_ON, keep_doc=True)
    full = serializers.serialize_text(res.doc)[0]
    only_para = serializers.serialize_text(res.doc, roles={"paragraph"})[0]
    assert len(only_para) < len(full)
    title_text = res.doc.pages[0].blocks[0].text
    assert title_text.split()[0] in full
    assert title_text.split()[0] not in only_para


def test_roles_do_not_change_default_txt():
    """With the stage enabled, TXT output (no role filter) is unchanged."""
    rng = random.Random(3)
    for fam in ("plain-1col", "two-col", "headings"):
        payload, intent = fixtures.FAMILY_BUILDERS[fam](rng)
        golden = fixtures.golden_from_blocks(intent)
        assert pipeline.extract(payload, config=ROLES_ON).extracted_text == golden


def test_model_role_head():
    """The trained numpy head (T15 model path): loads once, deterministic,
    and agrees with the heuristic labeler on the fixture corpus for the
    layout-separable classes."""
    from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG

    model_cfg = replace(DEFAULT_CONFIG, skip_semantic_roles=False,
                        role_head="model")
    heur_cfg = replace(DEFAULT_CONFIG, skip_semantic_roles=False)

    rows = fixtures.build_corpus(40, jumbo_every=20)
    agree = total = 0
    for row in rows:
        m = pipeline.extract(row["html"], config=model_cfg, with_spans=True)
        h = pipeline.extract(row["html"], config=heur_cfg, with_spans=True)
        assert len(m.blocks) == len(h.blocks)
        for bm, bh in zip(m.blocks, h.blocks):
            total += 1
            agree += int(bm.role == bh.role)
        # determinism: same payload -> same predictions
        m2 = pipeline.extract(row["html"], config=model_cfg, with_spans=True)
        assert [b.role for b in m2.blocks] == [b.role for b in m.blocks]
    assert total > 100
    assert agree / total >= 0.9
    # the TXT output (no role filter) is unchanged by the model head
    assert pipeline.extract(rows[0]["html"], config=model_cfg).extracted_text \
        == rows[0]["golden_text"]


def test_article_roles_family():
    """The article-roles family assigns every heuristic role class
    deterministically (title / author-info / heading / paragraph)."""
    for seed in (0, 11, 42):
        payload, intent = fixtures.FAMILY_BUILDERS["article-roles"](
            random.Random(seed))
        res = pipeline.extract(payload, config=ROLES_ON, with_spans=True)
        assert [b.role for b in res.blocks] == fixtures.ARTICLE_ROLES
        assert ([b.text for b in res.blocks]
                == fixtures.golden_block_texts(intent))
        assert res.extracted_text == fixtures.golden_from_blocks(intent)


def test_article_roles_filtered_txt():
    """T17 role filter end-to-end on article-roles: TXT restricted to
    title+heading equals the intent-level filtered golden."""
    payload, intent = fixtures.FAMILY_BUILDERS["article-roles"](
        random.Random(5))
    res = pipeline.extract(payload, config=ROLES_ON,
                           roles={"title", "heading"})
    blocks = fixtures.golden_dehyphenated_blocks(intent)
    kept = [" ".join(ws) for ws, role in zip(blocks, fixtures.ARTICLE_ROLES)
            if role in ("title", "heading")]
    assert res.extracted_text == "\n\n".join(kept) + "\n"


def test_reference_net_architecture_and_vocabs():
    """roles_net replicates the shipped model's exact shapes and vocabs:
    embedding [2259,256] (2256 BPE entries + 3 meta symbols), LSTM(256)
    kernels [256,1024], dense [271,256], output [256,14] == the SemanticRole
    enum order (saved_model.pb VarHandleOp shapes; roles-vocab.tsv)."""
    from pdftotext_plus_plus_spark.config import SEMANTIC_ROLE_NAMES
    from pdftotext_plus_plus_spark.kernel import roles_net

    vocab = roles_net.load_bpe_vocab()
    assert len(vocab) == 2256
    assert vocab["!"] == 0 and vocab["ward✂"] == 2255
    assert tuple(roles_net.load_roles_vocab()) == SEMANTIC_ROLE_NAMES

    emb, w, u, b = roles_net.frozen_backbone()
    assert emb.shape == (2259, 256)
    assert w.shape == (256, 1024) and u.shape == (256, 1024)
    assert b.shape == (1024,)
    assert (b[256:512] == 1.0).all()  # unit forget bias

    dense_w, dense_b, out_w, out_b = roles_net._load_head()
    assert dense_w.shape == (271, 256) and out_w.shape == (256, 14)


def test_reference_net_words_input():
    """The words input is [n_blocks, 100] shipped-vocab BPE ids
    (createWordsInputTensor, SemanticRolesPrediction.cpp:372-404)."""
    from pdftotext_plus_plus_spark.kernel import roles_net

    payload, _ = fixtures.FAMILY_BUILDERS["article-roles"](random.Random(3))
    res = pipeline.extract(payload, keep_doc=True)
    ids = roles_net.words_input(res.doc)
    n_blocks = sum(len(p.blocks) for p in res.doc.pages)
    assert ids.shape == (n_blocks, 100)
    assert ids.min() >= 0 and ids.max() < 2259
    vocab = roles_net.load_bpe_vocab()
    pad = len(vocab)  # PADDING appended first -> id 2256
    assert (ids[:, -1] == pad).any()  # short blocks end padded


def test_reference_net_registry_corpus_exact():
    """The net reproduces the expected roles on the driver-registry role
    corpus exactly (the extract_roles_model oracle depends on this).
    The shipped head is trained on seeds DISJOINT from this corpus
    (scripts/train_reference_role_net.py TRAIN_SPECS/BASE_SEED), so this is
    a generalization result, not memorization."""
    from pdftotext_plus_plus_spark.kernel import roles_net

    for row in fixtures.build_corpus(16, families=["article-roles"]):
        res = pipeline.extract(row["html"], keep_doc=True)
        roles_net.predict_roles_net(res.doc)
        preds = [b.role for p in res.doc.pages for b in p.blocks]
        assert preds == fixtures.ARTICLE_ROLES, row["url"]


def test_reference_net_heldout_generalization():
    """Round-2 verdict #3: the shipped model head must agree with the
    heuristic head at >= 0.95 block accuracy on article-roles docs whose
    seeds appear in NO training spec and NO driver corpus (seed 101 vs
    training seeds {5,7,8,9,10,11,23} and driver seed 42)."""
    from dataclasses import replace

    from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG
    from pdftotext_plus_plus_spark.kernel import roles_net

    cfg = replace(DEFAULT_CONFIG, skip_semantic_roles=False)
    n_blocks = 0
    n_agree = 0
    for row in fixtures.build_corpus(200, families=["article-roles"],
                                     seed=101):
        res = pipeline.extract(row["html"], config=cfg, keep_doc=True)
        heur = [b.role for p in res.doc.pages for b in p.blocks]
        roles_net.predict_roles_net(res.doc)
        model = [b.role for p in res.doc.pages for b in p.blocks]
        n_blocks += len(heur)
        n_agree += sum(h == m for h, m in zip(heur, model))
    assert n_blocks >= 200
    assert n_agree / n_blocks >= 0.95, (n_agree, n_blocks)
