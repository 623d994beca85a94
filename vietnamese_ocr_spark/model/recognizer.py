"""The recognition core: batched encoder + greedy autoregressive decoder.

This is the engine's replacement for the reference's CNN/Swin encoder +
Transformer decoder (src/model/model.py). The reference checkpoint is an
unresolvable Git-LFS pointer, so — per SURVEY.md §5 — a tiny deterministic
seeded model IS the semantics contract; the oracle and the Spark
`mapInArrow` stage run this identical NumPy code on identical `.npz`
weights.

Architecture (uint8 strip storage with float32 accumulators — the stage is
DRAM-bandwidth-bound at high core counts; every reduction runs through
einsum(optimize=False), whose fixed per-row loop order makes results
bit-identical regardless of batch composition — BLAS gemm does NOT
guarantee that: its blocking varies with the row count, measured divergent
for both float32 and float64):
  encoder   (src/model/model.py:118-131 analog): the 64x256 preprocessed
            image is sliced into 32 column strips of 8 px starting at the
            first ink column; each strip -> flattened 512-d L2-normalized
            feature. Memory = B x 32 x 512.
  decoder   (src/model/model.py:134-158 analog): hard positional attention —
            decode step t attends to memory position t; output projection
            W_out rows are matched-filter templates (one per vocab char),
            logits = cosine scores; an ink-gated <eos> logit implements
            end-of-line detection.
  greedy    exact M11 semantics (src/model/model.py:202-233): start <sos>,
            <= 32 steps, per-step argmax, rows whose token == <eos> leave
            the active set, survivors flushed at the 32-step cap.

Decoded per the reference: specials stripped (src/utils/vocab.py:28-31) and
empty predictions replaced by the literal "a" (src/utils/inference.py:108-110)
— that fallback is applied by the *pipeline projection*, not here.
"""

from __future__ import annotations

import io

import numpy as np

from ..functions.imaging import TARGET_H
from .glyphs import CELL_W, build_atlas
from .vocab import EOS, N_SPECIALS, Vocabulary

MAX_TOKENS = 32          # src/model/model.py:209 decode cap
FEAT_DIM = TARGET_H * CELL_W
INK_COL_THRESH = 0.05    # mean column brightness marking "ink present"
EOS_INK_THRESH = 0.08    # strip mean below this => end-of-line
EOS_GAIN = 12.0
SOFTMAX_TEMP = 4.0
CONF_BUCKETS = 10        # width of the per-token confidence histogram
_EPS = 1e-12


def build_weights(vocab: Vocabulary | None = None) -> dict[str, np.ndarray]:
    """Deterministic weight tensors; serialized to .npz and broadcast once."""
    vocab = vocab or Vocabulary()
    atlas = build_atlas(vocab)
    w_out = np.zeros((vocab.size, FEAT_DIM), dtype=np.float32)
    for ch, idx in vocab.letter_to_idx.items():
        tpl = (255.0 - atlas[ch].astype(np.float64)) / 255.0  # ink -> bright
        flat = tpl.reshape(-1)
        w_out[idx] = (flat / (np.linalg.norm(flat) + _EPS)).astype(np.float32)
    letters = np.array(vocab.letters, dtype="U1")
    return {"w_out": w_out, "letters": letters}


def weights_to_bytes(weights: dict[str, np.ndarray]) -> bytes:
    buf = io.BytesIO()
    np.savez(buf, **weights)
    return buf.getvalue()


def weights_from_bytes(blob: bytes) -> dict[str, np.ndarray]:
    with np.load(io.BytesIO(blob)) as z:
        return {k: z[k] for k in z.files}


class Recognizer:
    """Stateless-after-init batch recognizer; hydrate once per executor."""

    def __init__(self, weights: dict[str, np.ndarray]):
        self.w_out = np.ascontiguousarray(weights["w_out"], dtype=np.float32)
        self.letters = [str(c) for c in weights["letters"]]
        self.vocab = Vocabulary("".join(self.letters))

    # -- encoder ----------------------------------------------------------
    def encode(self, batch: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """batch: B x 64 x 256 uint8 (preprocessed canvas, ink bright).

        Returns (strips B x 32 x 512 uint8, inv_norm B x 32 float32,
        ink B x 32 float32 strip means in [0,1]). Strips stay uint8 —
        cosine scoring divides by the norm at the logits step, so the
        /255 scale cancels. Computed once per batch and reused across all
        decode steps (src/model/model.py:207-208 'encoder once', X5).
        """
        b = batch.shape[0]
        col_ink = np.einsum("bhw->bw", batch, dtype=np.float32) * np.float32(
            1.0 / (TARGET_H * 255.0)
        )
        has_ink = col_ink > INK_COL_THRESH
        # first ink column, 0 if the row is blank paper
        x0 = np.where(has_ink.any(axis=1), has_ink.argmax(axis=1), 0)
        # align each row to its first ink column: one contiguous memcpy per
        # row (measured ~4x faster than a take_along_axis gather)
        span = MAX_TOKENS * CELL_W  # == TARGET_W
        aligned = np.zeros((b, TARGET_H, span), dtype=np.uint8)
        for r in range(b):
            w = span - x0[r]
            aligned[r, :, :w] = batch[r, :, x0[r] :]
        strips = aligned.reshape(b, TARGET_H, MAX_TOKENS, CELL_W)
        strips = np.ascontiguousarray(strips.transpose(0, 2, 1, 3)).reshape(
            b, MAX_TOKENS, FEAT_DIM
        )
        ink = np.einsum("btf->bt", strips, dtype=np.float32) * np.float32(
            1.0 / (FEAT_DIM * 255.0)
        )
        sq = np.einsum("btf,btf->bt", strips, strips, dtype=np.float32)
        inv_norm = np.float32(1.0) / (np.sqrt(sq) + np.float32(_EPS))
        return strips, inv_norm, ink

    # -- decoder ----------------------------------------------------------
    def step_logits(
        self, strips_t: np.ndarray, inv_norm_t: np.ndarray, ink_t: np.ndarray
    ) -> np.ndarray:
        """Logits for one decode step: B x vocab_size (cosine scores)."""
        b = strips_t.shape[0]
        logits = np.full((b, self.w_out.shape[0]), -np.inf, dtype=np.float32)
        # einsum(optimize=False): fixed reduction order per row -> results
        # independent of how rows were batched (gemm is not); uint8 strips
        # are cast on the fly, templates are unit-norm, so dividing by the
        # strip norm yields the cosine
        dots = np.einsum(
            "bf,vf->bv", strips_t, self.w_out[N_SPECIALS:], dtype=np.float32,
            optimize=False,
        )
        logits[:, N_SPECIALS:] = dots * inv_norm_t[:, None]
        logits[:, EOS] = (np.float32(EOS_INK_THRESH) - ink_t) * np.float32(EOS_GAIN)
        return logits

    def greedy_decode(self, batch: np.ndarray) -> tuple[list[list[int]], np.ndarray]:
        """Vectorized M11: returns (token ids per row, B x CONF_BUCKETS
        conf histograms).

        Active-mask loop mirrors the reference's dict-shrinking batch
        (src/model/model.py:211-216): rows leave on <eos>; at step 32 the
        remaining rows are flushed (src/model/model.py:228-232).
        """
        strips, inv_norm, ink = self.encode(batch)
        b = batch.shape[0]
        tokens: list[list[int]] = [[] for _ in range(b)]
        hist = np.zeros((b, CONF_BUCKETS), dtype=np.int64)
        active = np.ones(b, dtype=bool)
        for t in range(MAX_TOKENS):
            if not active.any():
                break
            idx = np.nonzero(active)[0]
            logits = self.step_logits(strips[idx, t], inv_norm[idx, t], ink[idx, t])
            choice = logits.argmax(axis=1)
            # per-token confidence: softmax prob of the argmax (A7 analog;
            # the reference has none — pure argmax, SURVEY.md §2.6 A7)
            z = logits * np.float32(SOFTMAX_TEMP)
            z = z - z.max(axis=1, keepdims=True)
            p = np.exp(z)
            conf = p[np.arange(len(idx)), choice] / p.sum(axis=1)
            bucket = np.minimum(
                (conf * CONF_BUCKETS).astype(np.int64), CONF_BUCKETS - 1
            )
            is_eos = choice == EOS
            np.add.at(hist, (idx[~is_eos], bucket[~is_eos]), 1)
            active[idx[is_eos]] = False
            for j, row in enumerate(idx):
                tokens[row].append(int(choice[j]))
        return tokens, hist

    def recognize(self, batch: np.ndarray) -> tuple[list[str], np.ndarray]:
        """Decode a preprocessed batch to strings + confidence histograms.

        Empty string stays empty here; the 'a' fallback is a pipeline
        projection (src/utils/inference.py:108-110).
        """
        tokens, hist = self.greedy_decode(batch)
        texts = [self.vocab.decode(seq) for seq in tokens]
        return texts, hist
