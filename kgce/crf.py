"""U3: CRF decode — numpy re-expression of the reference CRF layer
(/root/reference/src/transformer_ner/model_utils.py:352-657,
New_Transformer_CRF): start/end transition vectors + a (num_tags x
num_tags) transition matrix over emission scores, Viterbi decode and the
forward-algorithm log-likelihood.

torch-free on purpose: inference-side decoding needs only the LEARNED
parameters (three small arrays), not autograd — so the decoder runs
inside Spark Python workers next to the Arrow batches, with the
parameters shipped as plain numpy in the UDF closure.  The reference
enables this path from the saved model config
(run_transformer_batch_prediction.py:43-45, ``use_crf``).
"""

from __future__ import annotations

import numpy as np


class CRFParams:
    """The three learned tensors of the reference CRF layer."""

    def __init__(self, transitions, start_transitions, end_transitions):
        self.transitions = np.asarray(transitions, dtype=np.float64)
        self.start = np.asarray(start_transitions, dtype=np.float64)
        self.end = np.asarray(end_transitions, dtype=np.float64)
        n = self.start.shape[0]
        assert self.transitions.shape == (n, n) and self.end.shape == (n,)

    @property
    def num_tags(self) -> int:
        return self.start.shape[0]

    @classmethod
    def load(cls, path: str) -> "CRFParams":
        """Load from an .npz with keys transitions/start_transitions/
        end_transitions (export a torch checkpoint's CRF tensors once,
        then inference never needs torch)."""
        z = np.load(path)
        return cls(z["transitions"], z["start_transitions"], z["end_transitions"])


def viterbi_decode(emissions: np.ndarray, params: CRFParams) -> list[int]:
    """Most likely tag sequence for ONE sequence (seq_len, num_tags).

    Identical recurrence to the reference _viterbi_decode
    (model_utils.py:545-620): score_0 = start + emission_0; step t
    maximizes score_{t-1}[i] + transitions[i, j] + emission_t[j]; the
    final step adds end_transitions before the argmax backtrace.
    """
    e = np.asarray(emissions, dtype=np.float64)
    T, n = e.shape
    assert n == params.num_tags
    score = params.start + e[0]
    history = np.empty((T - 1, n), dtype=np.int64) if T > 1 else None
    for t in range(1, T):
        # broadcast: prev-score column + transition matrix -> (from, to)
        combined = score[:, None] + params.transitions
        history[t - 1] = np.argmax(combined, axis=0)
        score = combined[history[t - 1], np.arange(n)] + e[t]
    score = score + params.end
    best = int(np.argmax(score))
    out = [best]
    for t in range(T - 2, -1, -1):
        best = int(history[t][best])
        out.append(best)
    out.reverse()
    return out


def sequence_score(emissions: np.ndarray, tags: list[int], params: CRFParams) -> float:
    """Unnormalized path score (reference _compute_score :480-510)."""
    e = np.asarray(emissions, dtype=np.float64)
    s = params.start[tags[0]] + e[0, tags[0]]
    for t in range(1, len(tags)):
        s += params.transitions[tags[t - 1], tags[t]] + e[t, tags[t]]
    return float(s + params.end[tags[-1]])


def log_normalizer(emissions: np.ndarray, params: CRFParams) -> float:
    """Forward-algorithm partition function (reference _compute_normalizer
    :512-543): logsumexp over all tag paths."""
    e = np.asarray(emissions, dtype=np.float64)
    score = params.start + e[0]
    for t in range(1, e.shape[0]):
        combined = score[:, None] + params.transitions + e[t][None, :]
        m = combined.max(axis=0)
        score = m + np.log(np.exp(combined - m).sum(axis=0))
    m = (score + params.end).max()
    return float(m + np.log(np.exp(score + params.end - m).sum()))


def log_likelihood(emissions: np.ndarray, tags: list[int], params: CRFParams) -> float:
    """Conditional log p(tags | emissions) — the reference's training
    objective is the token-mean of its negation (forward(), :405-443)."""
    return sequence_score(emissions, tags, params) - log_normalizer(emissions, params)
