"""The ``kg_batch_bert`` model: a seeded numpy-BERT checkpoint built in set-up.

The checkpoint is a 2-layer, 64-hidden ``BertForTokenClassification``
state dict over the corpus's character alphabet, saved with its
vocabularies and loaded back through ``classifier_from_checkpoint`` (the
``run_pipeline.py --checkpoint`` path). It is random init plus one
planted feature: the embeddings of characters that spell drugs (katakana)
and symptoms (the symptom kanji) carry a per-type direction that the
``I-<type>`` classifier rows read, so runs of those characters come out as
mentions of that type, as a trained tagger's would. Every other position
is random, and the ``O`` bias is raised on a coarse grid until the
mentions per sentence on a seeded page sample fall in
``MENTIONS_PER_SENTENCE``.

The weights, the alphabet and the bias come from a fixed reference corpus
(``MODEL_SEED``), not from the run's seed: with a model drawn per seed,
pages/s spread by a fifth across seeds. Characters the reference corpus lacks map to
``[UNK]``. The run's own corpus supplies the margin check below.

The argmax margin on that sample must clear float noise: the larger of a
few float32 ulps of the largest logit and ten times the observed
difference between the padded-batch and per-sentence forwards. A model
seed that fails is replaced by the next one, so padding or batching
changes cannot silently flip labels.
"""

from __future__ import annotations

import random

import numpy as np

from bert_namedentityrecognition_spark.operators.bert_numpy import (
    init_token_classifier_state,
    save_checkpoint,
)
from bert_namedentityrecognition_spark.operators.ner import (
    classifier_from_checkpoint,
    label_vocab_for_types,
)
from bert_namedentityrecognition_spark.oracle.iob import iob_to_spans
from bert_namedentityrecognition_spark.oracle.textproc import (
    han_to_zen,
    html_to_text,
    preprocess_text,
    split_sentences,
)

from .corpus import DRUG_CHARS, SYMPTOM_CHARS, generate

HIDDEN, LAYERS, HEADS, FF = 64, 2, 4, 256
MENTIONS_PER_SENTENCE = (0.5, 2.5)
CLASSIFIER_SCALE = 10.0
FEATURE_EMBED, FEATURE_READ = 0.5, 1.5
STRAY_TAG_SHARE = 0.01  # non-O share allowed at characters outside both sets
MAX_SEED_TRIES = 20
SAMPLE_PAGES = 40
MODEL_SEED, REF_PAGES = 7, 600
BATCH = 8  # ner_pages' default sub-batch


def page_sentences(page: dict) -> list[tuple[int, str]]:
    """(sent_id, han_to_zen sentence) the model stage sees for one page,
    following the pipeline's input contract (lang ja, text else html)."""
    if page["lang"] != "ja":
        return []
    text = page["text"]
    if text is None or text == "":
        text = html_to_text(page["html"]) if page["html"] is not None else ""
        if not text:
            return []
    return [
        (sid, han_to_zen(s))
        for sid, s in enumerate(split_sentences(preprocess_text(text)))
        if len(s) <= 512
    ]


def _labels(itos: list[str], ids: np.ndarray) -> list[str]:
    return [itos[i] if itos[i] != "[PAD]" else "O" for i in ids]


def _logits(model, sents: list[str]) -> list[np.ndarray]:
    """Per-sentence float32 logits over real positions ([CLS] dropped)."""
    return [model.logits([s], len(s) + 1)[0, 1:] for s in sents]


def _batched_logits(model, sents: list[str]) -> list[np.ndarray]:
    """The same positions from length-sorted padded batches of ``BATCH``."""
    order = sorted(range(len(sents)), key=lambda i: -len(sents[i]))
    out: list[np.ndarray | None] = [None] * len(sents)
    for ofs in range(0, len(order), BATCH):
        idx = order[ofs : ofs + BATCH]
        chunk = [sents[i] for i in idx]
        lg = model.logits(chunk, max(len(c) for c in chunk) + 1)
        for row, i in enumerate(idx):
            out[i] = lg[row, 1 : len(sents[i]) + 1]
    return out


def _mentions_per_sentence(itos, logits: list[np.ndarray], sents: list[str]) -> float:
    n = sum(
        len(iob_to_spans(list(s), _labels(itos, lg.argmax(axis=1))))
        for s, lg in zip(sents, logits)
    )
    return n / len(sents)


def build_checkpoint(corpus: dict, seed: int, path: str) -> dict:
    """Write the checkpoint to ``path``; returns its descriptors."""
    ref = generate(MODEL_SEED, REF_PAGES)["pages"]
    alphabet = sorted(
        {ch for p in ref for _, s in page_sentences({**p, "lang": "ja"}) for ch in s}
    )
    tok_itos = ["[PAD]", "[CLS]", "[UNK]"] + alphabet
    tok_stoi = {t: i for i, t in enumerate(tok_itos)}
    vocab = label_vocab_for_types(["drug", "symptom"])
    o_id, pad_id = vocab.stoi["O"], vocab.stoi["[PAD]"]
    calib = [s for p in random.Random(MODEL_SEED).sample(ref, SAMPLE_PAGES) for _, s in page_sentences(p)]
    sents = [s for p in random.Random(seed).sample(corpus["pages"], SAMPLE_PAGES) for _, s in page_sentences(p)]
    for attempt in range(MAX_SEED_TRIES):
        model_seed = MODEL_SEED * 1000 + attempt
        sd = init_token_classifier_state(
            vocab_size=len(tok_itos), num_labels=len(vocab.itos), hidden=HIDDEN,
            layers=LAYERS, heads=HEADS, intermediate=FF, seed=model_seed,
        )
        sd["classifier.weight"] = sd["classifier.weight"] * CLASSIFIER_SCALE
        sd["classifier.bias"][pad_id] = -20.0  # never predicted at real positions
        dirs = np.linalg.qr(np.random.RandomState(model_seed).randn(HIDDEN, 2))[0].T
        emb = sd["bert.embeddings.word_embeddings.weight"]
        for d, (chars, label) in zip(dirs, ((DRUG_CHARS, "I-drug"), (SYMPTOM_CHARS, "I-symptom"))):
            for ch in chars:
                if ch in tok_stoi:
                    emb[tok_stoi[ch]] += FEATURE_EMBED * d.astype(np.float32)
            sd["classifier.weight"][vocab.stoi[label]] += FEATURE_READ * d.astype(np.float32)
        save_checkpoint(sd, path, tokenizer_itos=tok_itos, label_itos=vocab.itos,
                        tokenizer_kind="char")
        model, _ = classifier_from_checkpoint(path)
        base = _logits(model, calib)
        # the smallest O bias on a coarse grid at which characters outside
        # both sets are rarely tagged (a bisected bias would sit exactly on
        # some position's decision boundary and zero its margin)
        stray = np.concatenate([[c not in DRUG_CHARS | SYMPTOM_CHARS for c in s] for s in calib])
        o_col = np.eye(len(vocab.itos), dtype=np.float32)[o_id]
        top = np.concatenate(base)
        bias = next(
            b for b in np.arange(0.0, 30.0, 0.25, dtype=np.float32)
            if ((top + o_col * b).argmax(axis=1)[stray] != o_id).mean() <= STRAY_TAG_SHARE
        )
        sd["classifier.bias"][o_id] = bias
        save_checkpoint(sd, path, tokenizer_itos=tok_itos, label_itos=vocab.itos,
                        tokenizer_kind="char")
        model, _ = classifier_from_checkpoint(path)
        single = _logits(model, sents)
        batched = _batched_logits(model, sents)
        noise = max(float(np.abs(a - b).max()) for a, b in zip(single, batched))
        max_abs = max(float(np.abs(lg).max()) for lg in single)
        need = max(8.0 * float(np.spacing(np.float32(max_abs))), 10.0 * noise)
        margin = min(float(np.diff(np.sort(lg, axis=1)[:, -2:], axis=1).min()) for lg in single)
        rate = _mentions_per_sentence(vocab.itos, single, sents)
        lo_ok, hi_ok = MENTIONS_PER_SENTENCE
        if margin >= need and lo_ok <= rate <= hi_ok:
            return {
                "model_seed": model_seed,
                "o_bias": float(bias),
                "sample_sentences": len(sents),
                "sample_mentions_per_sentence": rate,
                "min_margin": margin,
                "margin_needed": need,
                "pad_noise": noise,
                "vocab": len(tok_itos),
            }
    raise RuntimeError(
        f"no model seed in {MODEL_SEED * 1000}..{MODEL_SEED * 1000 + MAX_SEED_TRIES - 1} gives "
        f"an argmax margin above float noise with {MENTIONS_PER_SENTENCE} mentions "
        "per sentence on the page sample"
    )


def expected_sample_mentions(model, label_itos: list[str], pages: list[dict]) -> list[tuple]:
    """Mentions of ``pages`` recomputed in-process: per-sentence logits →
    argmax → labels → ``iob_to_spans``."""
    out = []
    for p in pages:
        for sid, s in page_sentences(p):
            lg = model.logits([s[:511]], len(s[:511]) + 1)[0, 1:]
            for span in iob_to_spans(list(s[:511]), _labels(label_itos, lg.argmax(axis=1))):
                out.append((p["url"], sid, span["start"], span["end"], span["type"], span["word"]))
    return sorted(out)


class CountingClassifier:
    """Traced-run wrapper: counts forward calls and real vs padded tokens
    at the model boundary into accumulators, then delegates.

    Python workers are reused across tasks and keep the broadcast model,
    so the accumulators are re-registered, from zero, at the first call of
    every task; otherwise updates after a worker's first task are lost."""

    def __init__(self, inner, calls, real, padded):
        self.inner = inner
        self.tokenizer = inner.tokenizer
        self.accs = (calls, real, padded)
        self._task = None

    def __getstate__(self):
        return {**self.__dict__, "_task": None}

    def _register(self) -> None:
        from pyspark import TaskContext
        from pyspark.accumulators import _accumulatorRegistry

        ctx = TaskContext.get()
        task = ctx.taskAttemptId() if ctx is not None else None
        if task != self._task:
            self._task = task
            for acc in self.accs:
                acc._value = 0
                _accumulatorRegistry[acc.aid] = acc

    def logits(self, texts: list[str], padded_len: int) -> np.ndarray:
        self._register()
        calls, real, padded = self.accs
        calls.add(1)
        real.add(sum(min(len(self.tokenizer.tokenize(t)) + 1, padded_len) for t in texts))
        padded.add(len(texts) * padded_len)
        return self.inner.logits(texts, padded_len)
