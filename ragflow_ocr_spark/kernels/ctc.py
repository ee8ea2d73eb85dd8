"""CTC greedy decode — semantics of the reference's ``CTCLabelDecode``
(``/root/reference/ocr/postprocess.py:311-366``):

- per timestep argmax over the class axis + its softmax probability
  (the reference consumes already-softmaxed preds; our stub emits
  logits, so we softmax here — same downstream math);
- drop adjacent duplicates (``postprocess.py:316-322``);
- drop blank (token 0, ``postprocess.py:343-344``);
- confidence = mean of kept-step probabilities; empty → 0.0
  (``postprocess.py:328-340``).
"""

from __future__ import annotations

import numpy as np


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=axis, keepdims=True)


def ctc_greedy_decode(
    logits: np.ndarray, charset: list[str]
) -> list[tuple[str, float]]:
    """(B, T, C) logits → [(text, score)] per batch element.

    ``charset`` is the class list WITHOUT the blank; class index i>0
    maps to charset[i-1] (blank prepended like the reference's
    ``add_special_char``, ``postprocess.py:368-370``). No Arabic
    segment reverse (``postprocess.py:283-306``): the charset is
    ``stubnet.REC_CHARSET``, never an Arabic dict.
    """
    probs = softmax(logits.astype(np.float64), axis=2)
    idx = probs.argmax(axis=2)            # (B, T)
    maxp = probs.max(axis=2)              # (B, T)
    out: list[tuple[str, float]] = []
    for b in range(logits.shape[0]):
        ids = idx[b]
        ps = maxp[b]
        # adjacent-duplicate removal BEFORE blank removal — order
        # matters for repeated chars ("LL" must survive via L,blank,L)
        keep = np.ones(len(ids), dtype=bool)
        keep[1:] = ids[1:] != ids[:-1]
        keep &= ids != 0
        chars = [charset[i - 1] for i in ids[keep]]
        confs = ps[keep]
        score = float(confs.mean()) if confs.size else 0.0
        out.append(("".join(chars), score))
    return out
