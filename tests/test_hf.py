"""HF integration plumbing (U1/U2), runnable without torch/transformers.

A fake tokenizer/tagger implementing the exact HF surface the adapters
consume proves the wiring (featurize slots, batched tagging path); the
tests that need the real libraries importorskip them (they SKIP in this
sandbox rather than stubbing)."""

import pytest

from kgce import featurize, schemas, synth, tagging
from kgce.hf import HFTokenizerAdapter, MissingDependencyError
from kgce.testing import FakeBatchTagger, FakeHFTokenizer


@pytest.fixture(scope="module")
def adapter():
    return HFTokenizerAdapter(FakeHFTokenizer())


TOKENS = ["Intercontinental", "flights", "from", "Amsterdam"]
LABELS = ["B-loc", "O", "O", "B-loc"]
L2I = featurize.build_label2idx(["loc"])


@pytest.mark.parametrize("use_adapter", [False, True])
def test_featurize_sentence_both_tokenizers(adapter, use_adapter):
    """Chunk/guard/label invariants hold for mock AND adapter tokenizers."""
    kw = (
        dict(
            subword_fn=adapter.subword_fn,
            vocab_fn=adapter.vocab_fn,
            specials=adapter.specials,
            unk=adapter.unk,
        )
        if use_adapter
        else {}
    )
    feats = featurize.featurize_sentence(TOKENS, LABELS, L2I, max_seq_len=16, **kw)
    assert len(feats) >= 1
    specials = adapter.specials if use_adapter else (featurize.CLS, featurize.SEP, featurize.PAD)
    seen_words = []
    for f in feats:
        assert len(f["input_tokens"]) == len(f["input_ids"]) == 16
        assert f["input_tokens"][0] == specials[0]
        # every non-pad row ends with SEP before padding
        body_len = sum(f["attention_mask"])
        assert f["input_tokens"][body_len - 1] == specials[1]
        assert all(t == specials[2] for t in f["input_tokens"][body_len:])
        # first piece of each word carries the word label, rest are X
        prev_g = 0
        for tok, lab_id, g in zip(f["input_tokens"], f["label_ids"], f["guards"]):
            if g == 0:
                continue
            if g != prev_g:
                seen_words.append(g)
                assert lab_id == L2I[LABELS[g - 1]]
                prev_g = g
            else:
                assert lab_id == L2I["X"]
        # a chunk never splits a word: guard at chunk end != guard at next chunk start
    # all words covered exactly once, in order
    assert seen_words == [1, 2, 3, 4]


@pytest.mark.parametrize("use_adapter", [False, True])
def test_featurize_restitch_roundtrip(spark, adapter, use_adapter):
    """featurize -> restitch recovers exactly the input labels for both
    tokenizers (A9/W5 under real subword splits)."""
    loader = (lambda: adapter) if use_adapter else None
    df = spark.createDataFrame(
        [("u1", 0, TOKENS, LABELS), ("u2", 0, ["short", "ok"], ["O", "B-loc"])],
        "url string, sent_id long, tokens array<string>, labels array<string>",
    )
    feats = featurize.featurize(df, L2I, max_seq_len=16, tokenizer_loader=loader)
    i2l = {v: k for k, v in L2I.items()}
    got = {
        r.url: list(r.labels)
        for r in featurize.restitch_word_labels(feats, i2l).collect()
    }
    assert got == {"u1": LABELS, "u2": ["O", "B-loc"]}


def test_model_tagger_construction_is_torch_free(monkeypatch):
    """get_tagger('model') must build without torch (only the dir is
    pickled into UDF closures); the import gate trips on first CALL."""
    t = tagging.get_tagger("model", model_dir="/nonexistent/model")
    with pytest.raises(MissingDependencyError):
        t(["Hello", "world"])
    with pytest.raises(ValueError):
        tagging.get_tagger("model")  # no model_dir and no $KGCE_MODEL_DIR


def test_batched_tagger_plumbing_matches_per_sentence(spark):
    """extract_mentions via tag_batch == extract_mentions via per-sentence
    calls, proving the batching path is semantics-neutral."""
    pages = spark.createDataFrame(synth.gen_pages(30, seed=7), schema=schemas.PAGES)
    cols = ["url", "sent_id", "mention_id", "text", "start", "end", "type"]
    batched = sorted(
        map(tuple, tagging.extract_mentions(pages, tagger=FakeBatchTagger()).select(cols).collect())
    )
    plain = sorted(map(tuple, tagging.extract_mentions(pages).select(cols).collect()))
    assert batched == plain and len(batched) > 0


def test_sentence_mentions_accept_callable_tagger(spark):
    pages = spark.createDataFrame(synth.gen_pages(10, seed=3), schema=schemas.PAGES)
    a = tagging.extract_sentence_mentions(pages, tagger=FakeBatchTagger())
    b = tagging.extract_sentence_mentions(pages)
    got = sorted(map(tuple, a.collect()))
    assert got == sorted(map(tuple, b.collect())) and len(got) > 0


def test_real_hf_tokenizer_roundtrip(spark):
    """Real-transformers path — SKIPS without the library installed."""
    pytest.importorskip("transformers")
    from kgce.hf import hf_tokenizer_loader

    loader = hf_tokenizer_loader("bert-base-uncased")
    df = spark.createDataFrame(
        [("u1", 0, TOKENS, LABELS)],
        "url string, sent_id long, tokens array<string>, labels array<string>",
    )
    feats = featurize.featurize(df, L2I, max_seq_len=32, tokenizer_loader=loader)
    i2l = {v: k for k, v in L2I.items()}
    got = featurize.restitch_word_labels(feats, i2l).collect()
    assert list(got[0].labels) == LABELS


def test_real_hf_model_tagger_interface():
    """Real-torch inference path — SKIPS without torch installed."""
    pytest.importorskip("torch")
    pytest.importorskip("transformers")
    import os

    model_dir = os.environ.get("KGCE_MODEL_DIR")
    if not model_dir:
        pytest.skip("no $KGCE_MODEL_DIR checkpoint available")
    t = tagging.get_tagger("model", model_dir=model_dir)
    labels = t(["Barack", "Obama", "visited", "Paris"])
    assert len(labels) == 4 and all(isinstance(l, str) for l in labels)


@pytest.fixture()
def fake_hf():
    """Install the torch/transformers doubles for one test; restore the
    import-gated state afterwards so MissingDependencyError gate tests
    stay order-independent."""
    from kgce.testing import install_fake_hf, uninstall_fake_hf

    install_fake_hf()
    yield
    uninstall_fake_hf()


def test_fake_hf_tokenizer_roundtrip(spark, fake_hf):
    """Non-skipping sibling of test_real_hf_tokenizer_roundtrip: the REAL
    load_hf_tokenizer/HFTokenizerAdapter/featurize path executes against
    the injected transformers double, on Spark executors."""
    from kgce.testing import fake_hf_tokenizer_loader

    df = spark.createDataFrame(
        [("u1", 0, TOKENS, LABELS), ("u2", 0, ["short", "ok"], ["O", "B-loc"])],
        "url string, sent_id long, tokens array<string>, labels array<string>",
    )
    feats = featurize.featurize(
        df, L2I, max_seq_len=16, tokenizer_loader=fake_hf_tokenizer_loader()
    )
    i2l = {v: k for k, v in L2I.items()}
    got = {
        r.url: list(r.labels)
        for r in featurize.restitch_word_labels(feats, i2l).collect()
    }
    assert got == {"u1": LABELS, "u2": ["O", "B-loc"]}


def test_fake_hf_model_tagger_executes_tensor_path(fake_hf):
    """Non-skipping sibling of test_real_hf_model_tagger_interface: REAL
    HFModelTagger code (lazy _load, length-bucketed batching, enc ->
    forward -> word_ids walk -> argmax) runs against the doubles; the
    expected labels are recomputed independently from the fake vocabulary."""
    from kgce.hf import HFModelTagger
    from kgce.testing import fake_expected_word_labels

    t = HFModelTagger("/fake/model", batch_size=2)
    sents = [
        ["Barack", "Obama", "visited", "Paris"],
        ["a"],
        ["several", "words", "of", "rather", "unequal", "lengths", "here"],
        [" ", "ok", "\t"],  # zero-piece words must not shift neighbors
    ]
    got = t.tag_batch(sents)
    assert got == [fake_expected_word_labels(s) for s in sents]
    assert t(sents[0]) == got[0]  # per-sentence TagFn contract


def test_fake_hf_model_tagger_truncation(fake_hf):
    """Words whose first piece falls past max_length decode to 'O'
    without shifting earlier labels."""
    from kgce.hf import HFModelTagger
    from kgce.testing import fake_expected_word_labels

    words = [f"w{i}rdnumber{i}" for i in range(40)]  # 4 pieces, varied heads
    t = HFModelTagger("/fake/model", max_length=32)
    got = t.tag_batch([words])[0]
    want = fake_expected_word_labels(words, max_length=32)
    assert got == want
    assert len(got) == 40
    assert set(got[10:]) == {"O"} and set(got[:7]) != {"O"}


def test_fake_hf_model_tagger_crf_branch(fake_hf):
    """crf_params selects Viterbi over argmax inside _decode_ids (the
    reference's use_crf config branch); validated against kgce.crf's
    (brute-force-proven) viterbi_decode over the same fake logits."""
    import numpy as np

    from kgce.crf import CRFParams, viterbi_decode
    from kgce.hf import HFModelTagger
    from kgce.testing import FAKE_ID2LABEL, FakeFastTokenizer, FakeTCModel

    n = len(FAKE_ID2LABEL)
    rng = np.random.default_rng(0)  # seed picked so Viterbi != argmax
    params = CRFParams(
        transitions=rng.normal(size=(n, n)) * 3.0,
        start_transitions=rng.normal(size=n),
        end_transitions=rng.normal(size=n),
    )
    words = ["Barack", "Obama", "visited", "Paris", "today"]
    t = HFModelTagger("/fake/model", crf_params=params)
    got = t.tag_batch([words])[0]

    # expected: rebuild the fake logits exactly as the model sees them,
    # Viterbi over the attended span, then the word_ids walk
    tok = FakeFastTokenizer()
    enc = tok([words], is_split_into_words=True, truncation=True,
              max_length=512, padding=True, return_tensors="pt")
    logits = FakeTCModel()(**enc).logits.numpy()[0]
    span = int(enc["attention_mask"].numpy()[0].sum())
    path = viterbi_decode(logits[:span], params)
    from kgce.hf import first_piece_labels

    want = first_piece_labels(enc.word_ids(0), path, FAKE_ID2LABEL, len(words))
    assert got == want
    argmax_form = HFModelTagger("/fake/model").tag_batch([words])[0]
    assert got != argmax_form  # the strong random transitions flip labels


def test_fake_hf_tagger_on_spark_pipeline(spark, fake_hf):
    """extract_mentions runs the REAL HFModelTagger tensor path inside
    Spark executor workers (doubles install lazily per worker process);
    the FULL mention set is recomputed by a pure-Python oracle that uses
    fake_expected_word_labels as the tag function."""
    from kgce import oracle, schemas, synth, tagging
    from kgce.testing import FakeTorchModelTagger, fake_expected_word_labels

    pages_rows = synth.gen_pages(12, seed=5)
    pages = spark.createDataFrame(pages_rows, schema=schemas.PAGES)
    m = tagging.extract_mentions(pages, tagger=FakeTorchModelTagger(batch_size=4))
    got = sorted(
        (r.url, r.sent_id, r.mention_id, r.text, r.start, r.end, r.type)
        for r in m.collect()
    )

    want = []
    for row in pages_rows:
        url, text = row["url"], row["text"]
        if text is None:
            continue
        page_ms = []
        for sid, (s, e) in enumerate(oracle.split_sentences(text)):
            toks = oracle.tokenize(text[s:e], base=s)
            if not toks:
                continue
            # tagger sees RAW whitespace tokens; span decode consumes the
            # EDGE_PUNCT-stripped cores — mirrors tagging._tagged_page_sentences
            cores = [oracle.core_token_offsets(*t) for t in toks]
            labels = oracle.fix_bio(fake_expected_word_labels([t[0] for t in toks]))
            for sp in oracle.decode_spans_converter(
                [c[0] for c in cores], [(c[1], c[2]) for c in cores], labels
            ):
                page_ms.append((sid, sp.text, sp.char_s, sp.char_e, sp.etype))
        page_ms.sort(key=lambda x: (x[2], x[3]))
        for mid, (sid, mtext, ms, me, mt) in enumerate(page_ms, start=1):
            want.append((url, sid, mid, mtext, ms, me, mt))
    assert got == sorted(want)
    assert len(got) > 0


def test_first_piece_labels_alignment():
    """The word_ids walk must survive zero-piece words and truncation
    without shifting later labels (torch-free: pure-Python walk)."""
    from kgce.hf import first_piece_labels

    id2label = {0: "O", 1: "B-per", 2: "I-per"}
    # sentence of 4 words; word 1 produced ZERO pieces; word 3 truncated
    word_ids = [None, 0, 0, 2, None]  # CLS, w0 (2 pieces), w2, SEP
    pred_row = [9, 1, 2, 1, 9]
    got = first_piece_labels(word_ids, pred_row, id2label, n_words=4)
    assert got == ["B-per", "O", "B-per", "O"]
    # contiguous normal case: first piece wins, later pieces ignored
    got = first_piece_labels([None, 0, 1, 1, None], [9, 1, 2, 1, 9], id2label, 2)
    assert got == ["B-per", "I-per"]
