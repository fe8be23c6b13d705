"""Forward-only numpy seq2seq: character encoder–attention–decoder LSTM.

Re-expresses the inference half of the reference's network
(/root/reference/ocrd_cor_asv_ann/lib/seq2seq.py:190-489 topology,
1020-1119 vectorization, 1215-1286 greedy batch decode, 1356-1544 beam;
lib/attention.py:440-621 additive attention with a local window) as a
pure numpy forward pass — no TF/Keras on executors, weights live in a
dict that is broadcast once per executor and shared by all Arrow
batches.

Semantics kept from the reference:
* dense one-hot input, index 0 = padding/underspecified; lines end with
  '\\n' as EOS;
* greedy decode is lines-parallel with *softmax feedback* (the full
  probability vector is fed back, not the argmax one-hot), argmax
  excludes index 0, step cap = 2 × source length;
* additive (Bahdanau) attention energy v·tanh(W h_dec + U h_enc) with a
  precomputed encoder-side half and an optional local window mask ±w;
* beam decode tracks cumulative -log p plus a prospective length-cost
  (pro_cost analogue) and emits the best final hypothesis.

The fixture model is deterministic (seeded orthogonal-ish weights): it
produces stable, partitioning-independent outputs, which is what the
Spark parity and batch-invariance tests pin down. A trained model drops
in by replacing the weight dict (same keys).
"""

from __future__ import annotations

import numpy as np

EOS = "\n"
UNK_IDX = 0


def make_vocab(corpus_chars: set[str]) -> dict[str, int]:
    """index 0 reserved for padding/unknown; EOS always present."""
    chars = sorted(set(corpus_chars) | {EOS})
    return {c: i + 1 for i, c in enumerate(chars)}


def _rng_mat(rng: np.random.Generator, shape: tuple[int, ...], scale: float) -> np.ndarray:
    return (rng.standard_normal(shape) * scale).astype(np.float32)


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30, 30)))


def _softmax(x, axis=-1):
    x = x - x.max(axis=axis, keepdims=True)
    e = np.exp(x)
    return e / e.sum(axis=axis, keepdims=True)


class LSTMParams:
    """Single LSTM layer parameters (input→4H kernel, H→4H recurrent)."""

    def __init__(self, rng, in_dim: int, hid: int):
        s = 1.0 / np.sqrt(max(in_dim, 1))
        self.W = _rng_mat(rng, (in_dim, 4 * hid), s)
        self.U = _rng_mat(rng, (hid, 4 * hid), 1.0 / np.sqrt(hid))
        self.b = np.zeros(4 * hid, dtype=np.float32)
        self.hid = hid

    def step(self, x, h, c):
        z = x @ self.W + h @ self.U + self.b
        H = self.hid
        i = _sigmoid(z[:, :H])
        f = _sigmoid(z[:, H : 2 * H] + 1.0)  # forget-gate bias +1
        g = np.tanh(z[:, 2 * H : 3 * H])
        o = _sigmoid(z[:, 3 * H :])
        c2 = f * c + i * g
        h2 = o * np.tanh(c2)
        return h2, c2

    def run(self, X, reverse: bool = False):
        """X: (B, T, in_dim) → (B, T, hid)."""
        B, T, _ = X.shape
        h = np.zeros((B, self.hid), dtype=np.float32)
        c = np.zeros((B, self.hid), dtype=np.float32)
        out = np.zeros((B, T, self.hid), dtype=np.float32)
        steps = range(T - 1, -1, -1) if reverse else range(T)
        for t in steps:
            h, c = self.step(X[:, t, :], h, c)
            out[:, t, :] = h
        return out


class Seq2SeqModel:
    """width = hidden size, depth = number of LSTM layers per side."""

    def __init__(self, vocab: dict[str, int], width: int = 32, depth: int = 1, window: int = 5, seed: int = 42):
        self.vocab = vocab
        self.inv_vocab = {i: c for c, i in vocab.items()}
        self.voc_size = len(vocab) + 1  # +1 for index 0
        self.width = width
        self.depth = depth
        self.window = window
        rng = np.random.default_rng(seed)
        V, W = self.voc_size, width
        self.embed = _rng_mat(rng, (V, W), 1.0 / np.sqrt(V))  # tied with output
        half = W // 2
        self.enc_fwd = LSTMParams(rng, W, half)
        self.enc_bwd = LSTMParams(rng, W, W - half)
        self.enc_stack = [LSTMParams(rng, W, W) for _ in range(depth - 1)]
        self.dec_stack = [LSTMParams(rng, W if d == 0 else W, W) for d in range(depth)]
        # additive attention: v·tanh(Wd h_dec + We h_enc)
        self.att_We = _rng_mat(rng, (W, W), 1.0 / np.sqrt(W))
        self.att_Wd = _rng_mat(rng, (W, W), 1.0 / np.sqrt(W))
        self.att_v = _rng_mat(rng, (W,), 1.0 / np.sqrt(W))
        self.out_W = _rng_mat(rng, (2 * W, W), 1.0 / np.sqrt(2 * W))  # [h;ctx]→W
        self.out_b = np.zeros(V, dtype=np.float32)

    # --- vectorization (M1) -------------------------------------------------

    def encode_onehot(self, texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """strings → (B, L, V) one-hot (0 row = padding) + lengths."""
        lens = np.array([len(t) for t in texts], dtype=np.int64)
        L = int(lens.max()) if len(lens) else 0
        X = np.zeros((len(texts), L, self.voc_size), dtype=np.float32)
        for b, t in enumerate(texts):
            for j, ch in enumerate(t):
                X[b, j, self.vocab.get(ch, UNK_IDX)] = 1.0
        return X, lens

    def encode_problines(
        self, texts: list[str], confs: list[list[float]]
    ) -> tuple[np.ndarray, np.ndarray]:
        """Encoding 2 (prob line, seq2seq.py:953-955 semantics): the
        char's index carries its confidence, the remaining probability
        mass goes to index 0 (underspecified)."""
        lens = np.array([len(t) for t in texts], dtype=np.int64)
        L = int(lens.max()) if len(lens) else 0
        X = np.zeros((len(texts), L, self.voc_size), dtype=np.float32)
        for b, (t, cs) in enumerate(zip(texts, confs)):
            for j, ch in enumerate(t):
                p = float(cs[j]) if cs is not None and j < len(cs) else 1.0
                X[b, j, self.vocab.get(ch, UNK_IDX)] = p
                X[b, j, UNK_IDX] += 1.0 - p
        return X, lens

    def encode_confmat(
        self, confmats: list[list[list[tuple[str, float]]]]
    ) -> tuple[np.ndarray, np.ndarray]:
        """Encoding 3 (confusion network, seq2seq.py:956-958,1052-1082
        semantics): each chunk is a list of (alternative, prob); chunks
        are zero-padded to their longest alternative, and each
        alternative adds its probability at its chars' positions
        (shorter alternatives leave the padding mass at index 0)."""
        lens = []
        rows: list[list[np.ndarray]] = []
        for cm in confmats:
            line_rows: list[np.ndarray] = []
            for chunk in cm:
                width = max((len(alt) for alt, _ in chunk), default=0)
                block = np.zeros((width, self.voc_size), dtype=np.float32)
                for alt, p in chunk:
                    for k in range(width):
                        idx = self.vocab.get(alt[k], UNK_IDX) if k < len(alt) else UNK_IDX
                        block[k, idx] += p
                line_rows.extend(block)
            rows.append(line_rows)
            lens.append(len(line_rows))
        L = max(lens) if lens else 0
        X = np.zeros((len(confmats), L, self.voc_size), dtype=np.float32)
        for b, line_rows in enumerate(rows):
            for j, r in enumerate(line_rows):
                X[b, j, :] = r
        return X, np.array(lens, dtype=np.int64)

    # --- encoder (M5/M6) ----------------------------------------------------

    def encode(self, X: np.ndarray) -> np.ndarray:
        """(B, L, V) → encoder states (B, L, W)."""
        E = X @ self.embed  # dense embedding of (possibly soft) one-hots
        fwd = self.enc_fwd.run(E)
        bwd = self.enc_bwd.run(E, reverse=True)
        H = np.concatenate([fwd, bwd], axis=-1)
        for layer in self.enc_stack:
            H = layer.run(H)
        return H

    def _attend(self, h_dec: np.ndarray, enc_proj: np.ndarray, enc: np.ndarray, mask: np.ndarray, center: np.ndarray | None):
        """Additive attention. enc_proj = enc @ att_We precomputed once per
        line (the reference precomputes the decoder-independent half the
        same way). Returns (context (B,W), weights (B,L))."""
        q = h_dec @ self.att_Wd  # (B, W)
        e = np.tanh(enc_proj + q[:, None, :]) @ self.att_v  # (B, L)
        e = np.where(mask, e, -1e9)
        if center is not None and self.window:
            idx = np.arange(e.shape[1])[None, :]
            local = np.abs(idx - center[:, None]) <= self.window
            e = np.where(local, e, -1e9)
        a = _softmax(e, axis=1)
        ctx = (a[:, :, None] * enc).sum(axis=1)
        return ctx, a

    def _project(self, h: np.ndarray, ctx: np.ndarray) -> np.ndarray:
        """[h;ctx] → vocab logits with tied embedding."""
        z = np.tanh(np.concatenate([h, ctx], axis=-1) @ self.out_W)
        return z @ self.embed.T + self.out_b

    # --- greedy batch decode (M2) -------------------------------------------

    def decode_greedy_batch(self, texts: list[str]) -> tuple[list[str], list[list[float]], list[np.ndarray]]:
        """Lines-parallel greedy decode with softmax feedback.

        Returns (decoded texts incl. trailing EOS, per-char probabilities,
        per-line soft-alignment matrices (out_len, in_len))."""
        if not texts:
            return [], [], []
        X, lens = self.encode_onehot(texts)
        return self._decode_greedy(X, lens)

    def decode_greedy_prob(self, texts: list[str], confs: list[list[float]]):
        """Greedy decode over the prob-line encoding (per-char conf)."""
        if not texts:
            return [], [], []
        X, lens = self.encode_problines(texts, confs)
        return self._decode_greedy(X, lens)

    def decode_greedy_confmat(self, confmats):
        """Greedy decode over confusion-network input."""
        if not confmats:
            return [], [], []
        X, lens = self.encode_confmat(confmats)
        return self._decode_greedy(X, lens)

    def decode_greedy_docs(self, doc_lines: list[list[str]]):
        """Stateful greedy decode (same contract as
        ``RefSeq2Seq.decode_greedy_docs``): each document's lines decode
        in order with the decoder LSTM (h, c) carried line→line and
        reset at document boundaries; documents advance in lockstep
        (round r = every document's r-th line in ONE batched pass). For
        this graph the decoder starts from zero state anyway, so line 1
        matches the stateless batch path exactly."""
        n_docs = len(doc_lines)
        outs = [[] for _ in range(n_docs)]
        probs = [[] for _ in range(n_docs)]
        aligns = [[] for _ in range(n_docs)]
        carried: list[list | None] = [None] * n_docs
        r = 0
        while True:
            lanes = [d for d in range(n_docs) if r < len(doc_lines[d])]
            if not lanes:
                break
            texts = [doc_lines[d][r] for d in lanes]
            X, lens = self.encode_onehot(texts)
            if X.shape[1] == 0:
                # batch of empty lines: emit EOS; states pass through
                # (zero state if nothing decoded yet — the decoder's own
                # start state)
                for d in lanes:
                    outs[d].append(EOS)
                    probs[d].append([1.0])
                    aligns[d].append(np.ones((1, 1), dtype=np.float32))
                    if carried[d] is None:
                        carried[d] = [
                            (np.zeros(self.width, np.float32),
                             np.zeros(self.width, np.float32))
                            for _ in self.dec_stack
                        ]
                r += 1
                continue
            init = None
            if r > 0:
                init = [
                    (
                        np.stack([carried[d][n][0] for d in lanes]),
                        np.stack([carried[d][n][1] for d in lanes]),
                    )
                    for n in range(self.depth)
                ]
            o, p, a, fin = self._decode_greedy(
                X, lens, init_dec_states=init, return_states=True)
            for i, d in enumerate(lanes):
                outs[d].append(o[i])
                probs[d].append(p[i])
                aligns[d].append(a[i])
                carried[d] = [(fin[n][0][i], fin[n][1][i]) for n in range(self.depth)]
            r += 1
        return outs, probs, aligns

    def _decode_greedy(
        self,
        X: np.ndarray,
        lens: np.ndarray,
        init_dec_states: list | None = None,
        return_states: bool = False,
    ):
        B, L, V = X.shape
        enc = self.encode(X)
        enc_proj = enc @ self.att_We
        mask = np.arange(L)[None, :] < lens[:, None]

        if init_dec_states is not None:
            h = [s[0].astype(np.float32).copy() for s in init_dec_states]
            c = [s[1].astype(np.float32).copy() for s in init_dec_states]
        else:
            h = [np.zeros((B, self.width), dtype=np.float32) for _ in self.dec_stack]
            c = [np.zeros((B, self.width), dtype=np.float32) for _ in self.dec_stack]
        fin_h = [s.copy() for s in h]
        fin_c = [s.copy() for s in c]
        feed = np.zeros((B, V), dtype=np.float32)  # start symbol = zero vector
        done = np.zeros(B, dtype=bool)
        center = np.zeros(B, dtype=np.int64)
        max_steps = int(2 * lens.max()) + 1 if L else 0
        eos_idx = self.vocab[EOS]
        caps = 2 * np.maximum(lens, 1)  # per-line step cap
        rows = np.arange(B)
        # step-major recording (fully vectorized; per-line assembly after)
        rec_idx = np.full((max_steps, B), -1, dtype=np.int64)
        rec_prob = np.zeros((max_steps, B), dtype=np.float64)
        rec_attn = np.zeros((max_steps, B, L), dtype=np.float32)
        n_steps = 0
        for step in range(max_steps):
            x = feed @ self.embed
            for d in range(self.depth):
                h[d], c[d] = self.dec_stack[d].step(x, h[d], c[d])
                x = h[d]
            ctx, a = self._attend(x, enc_proj, enc, mask, center)
            logits = self._project(x, ctx)
            p = _softmax(logits, axis=-1)
            p[:, UNK_IDX] = 0.0  # argmax excludes underspecified index 0
            nxt = p.argmax(axis=-1)
            nxt = np.where(step + 1 >= caps, eos_idx, nxt)  # force EOS at cap
            active = ~done
            rec_idx[step, active] = nxt[active]
            rec_prob[step, active] = p[rows, nxt][active]
            rec_attn[step, active, :] = a[active, :]
            just_done = active & (nxt == eos_idx)
            if return_states and just_done.any():
                # freeze each line's carry-state at its own EOS step
                for d in range(self.depth):
                    fin_h[d][just_done] = h[d][just_done]
                    fin_c[d][just_done] = c[d][just_done]
            done |= just_done
            n_steps = step + 1
            center = np.minimum(a.argmax(axis=1) + 1, np.maximum(lens - 1, 0))
            feed = p  # softmax feedback
            if done.all():
                break
        if return_states and not done.all():
            for d in range(self.depth):
                fin_h[d][~done] = h[d][~done]
                fin_c[d][~done] = c[d][~done]
        idx_to_char = {i: ch for ch, i in self.vocab.items()}
        outs, probs, aligns = [], [], []
        for b in range(B):
            col = rec_idx[:n_steps, b]
            valid = col >= 0
            chars = [idx_to_char.get(int(i), "") for i in col[valid]]
            pr = rec_prob[:n_steps, b][valid].tolist()
            al = rec_attn[:n_steps, b, : lens[b]][valid]
            if not chars or chars[-1] != EOS:
                chars.append(EOS)
                pr.append(1.0)
                tail = al[-1:] if len(al) else np.ones((1, max(lens[b], 1))) / max(lens[b], 1)
                al = np.concatenate([al, tail]) if len(al) else tail
            outs.append("".join(chars))
            probs.append(pr)
            aligns.append(al)
        if return_states:
            return outs, probs, aligns, list(zip(fin_h, fin_c))
        return outs, probs, aligns

    # --- beam decode (M4, full reference semantics) ----------------------------

    def decode_beam(
        self,
        text: str,
        beam_width: int = 4,
        rel_threshold: float = 0.2,
        max_expansions: int = 15,
    ) -> tuple[str, float]:
        """Single-line beam (compat wrapper): best final's (text incl.
        EOS, cumulative cost)."""
        X, lens = self.encode_onehot([text])
        enc = self.encode(X)
        Lb = max(int(lens[0]), 1)
        finals = self._beam_line(
            enc[:, :Lb],
            X[0, :Lb],
            src_len=int(lens[0]),
            batch_cap=beam_width,
            beam_threshold=rel_threshold,
            beam_width_in=max_expansions,
            beam_width_out=1,
        )
        out, _probs, cost, _align = finals[0]
        return out, cost

    def decode_beam_batch(
        self,
        texts: list[str],
        beam_width: int = 4,
        beam_width_out: int = 1,
        rejection_threshold: float = 0.3,
        beam_width_in: int = 15,
        beam_threshold: float = 0.2,
        lm=None,
    ):
        """Beamed analogue of decode_greedy_batch: the encoder runs ONCE
        on the whole padded batch (as the reference does before looping
        decode_sequence_beam per line, seq2seq.py:1310-1320), and the
        beams of ALL lines expand in lockstep — every decoder step is one
        stacked matmul over every line's ≤batch_cap active hypotheses
        (:func:`beam_search_multi`), amortizing the numpy GEMMs
        ~n_lines× over a per-line loop while each line's search makes
        the single-line algorithm's pops, expansions and tiebreaks and
        gives its texts; per-char probabilities and alignments agree to
        float32 rounding, since the stacked step rounds at other array
        shapes (pinned by test_encodings_beam batch-vs-single parity).
        Returns (texts, probs, soft alignments) of each line's best
        final — same contract as greedy, so beam mode keeps the Viterbi
        segmentation path."""
        if not texts:
            return [], [], []
        X, lens = self.encode_onehot(texts)
        if X.shape[1] == 0:  # batch of empty (media-only) lines
            B = len(texts)
            return [EOS] * B, [[1.0]] * B, [np.ones((1, 1), dtype=np.float32)] * B
        enc = self.encode(X)
        enc_proj = enc @ self.att_We
        Lbs = [max(int(l), 1) for l in lens]
        Lmax = max(Lbs)
        lens_arr = np.array(Lbs, dtype=np.int64)
        enc_t, proj_t = enc[:, :Lmax], enc_proj[:, :Lmax]
        pos_idx = np.arange(Lmax)

        def step(feed, states, prev_a, line_ids):
            B = feed.shape[0]
            x = feed @ self.embed
            hs, cs = [], []
            for d in range(self.depth):
                hd, cd = self.dec_stack[d].step(
                    x,
                    np.stack([s[0][d] for s in states]),
                    np.stack([s[1][d] for s in states]),
                )
                hs.append(hd)
                cs.append(cd)
                x = hd
            line_lens = lens_arr[line_ids]
            # padding mask reproduces the sliced per-line attention exactly:
            # masked energies underflow to 0 in the softmax and padded
            # context terms are exact zeros
            mask = pos_idx[None, :] < line_lens[:, None]
            center = np.minimum(prev_a.argmax(axis=1) + 1, line_lens - 1)
            ctx, a_all = self._attend(x, proj_t[line_ids], enc_t[line_ids], mask, center)
            p_all = _softmax(self._project(x, ctx), axis=-1)
            p_all[:, UNK_IDX] = 0.0
            new_states = [
                ([hd[i] for hd in hs], [cd[i] for cd in cs]) for i in range(B)
            ]
            return p_all, a_all, new_states

        zero_state = lambda: (  # noqa: E731
            [np.zeros(self.width, dtype=np.float32) for _ in self.dec_stack],
            [np.zeros(self.width, dtype=np.float32) for _ in self.dec_stack],
        )
        finals_per_line = beam_search_multi(
            step,
            [zero_state() for _ in texts],
            [X[b, : Lbs[b]] for b in range(len(texts))],
            [int(l) for l in lens],
            self.inv_vocab,
            self.voc_size,
            Lbs,
            batch_cap=max(beam_width, 4),
            beam_width_out=max(beam_width_out, 1),
            rejection_threshold=rejection_threshold,
            beam_width_in=beam_width_in,
            beam_threshold=beam_threshold,
            lm_logprob=lm.logprob if lm is not None else None,
        )
        outs, probs, aligns = [], [], []
        for finals in finals_per_line:
            out, pr, _cost, al = finals[0]
            outs.append(out)
            probs.append(pr)
            aligns.append(al)
        return outs, probs, aligns

    def _beam_line(
        self,
        enc: np.ndarray,
        src_onehot: np.ndarray,
        src_len: int,
        **kwargs,
    ) -> list[tuple[str, list[float], float, np.ndarray]]:
        """Beam over one line: builds the stacked decoder-step closure
        for this model and delegates to :func:`beam_search`."""
        Lb = enc.shape[1]
        enc_proj = enc @ self.att_We

        def step(feed, states, prev_a):
            B = feed.shape[0]
            x = feed @ self.embed
            hs, cs = [], []
            for d in range(self.depth):
                hd, cd = self.dec_stack[d].step(
                    x,
                    np.stack([s[0][d] for s in states]),
                    np.stack([s[1][d] for s in states]),
                )
                hs.append(hd)
                cs.append(cd)
                x = hd
            mask = np.ones((B, Lb), dtype=bool)
            center = np.minimum(prev_a.argmax(axis=1) + 1, Lb - 1)
            ctx, a_all = self._attend(
                x, enc_proj.repeat(B, 0), enc.repeat(B, 0), mask, center
            )
            p_all = _softmax(self._project(x, ctx), axis=-1)
            p_all[:, UNK_IDX] = 0.0
            new_states = [
                ([hd[i] for hd in hs], [cd[i] for cd in cs]) for i in range(B)
            ]
            return p_all, a_all, new_states

        init_state = (
            [np.zeros(self.width, dtype=np.float32) for _ in self.dec_stack],
            [np.zeros(self.width, dtype=np.float32) for _ in self.dec_stack],
        )
        return beam_search(
            step,
            init_state,
            src_onehot,
            src_len,
            self.inv_vocab,
            self.voc_size,
            Lb,
            **kwargs,
        )

    # --- persistence ----------------------------------------------------------

    def weights_dict(self) -> dict[str, np.ndarray]:
        d = {"embed": self.embed, "att_We": self.att_We, "att_Wd": self.att_Wd, "att_v": self.att_v, "out_W": self.out_W, "out_b": self.out_b}
        for name, layer in [("enc_fwd", self.enc_fwd), ("enc_bwd", self.enc_bwd)] + [
            (f"enc{i}", l) for i, l in enumerate(self.enc_stack)
        ] + [(f"dec{i}", l) for i, l in enumerate(self.dec_stack)]:
            d[f"{name}_W"], d[f"{name}_U"], d[f"{name}_b"] = layer.W, layer.U, layer.b
        return d

    def save_npz(self, path: str) -> None:
        meta = dict(width=self.width, depth=self.depth, window=self.window)
        vocab_items = np.array(sorted(self.vocab.items()), dtype=object)
        np.savez(path, __meta__=np.array(list(meta.items()), dtype=object), __vocab__=vocab_items, **self.weights_dict())

    @classmethod
    def load_npz(cls, path: str) -> "Seq2SeqModel":
        z = np.load(path, allow_pickle=True)
        meta = dict(z["__meta__"])
        vocab = {k: int(v) for k, v in z["__vocab__"]}
        m = cls(vocab, width=int(meta["width"]), depth=int(meta["depth"]), window=int(meta["window"]))
        m.embed = z["embed"]
        m.att_We, m.att_Wd, m.att_v = z["att_We"], z["att_Wd"], z["att_v"]
        m.out_W, m.out_b = z["out_W"], z["out_b"]
        for name, layer in [("enc_fwd", m.enc_fwd), ("enc_bwd", m.enc_bwd)] + [
            (f"enc{i}", l) for i, l in enumerate(m.enc_stack)
        ] + [(f"dec{i}", l) for i, l in enumerate(m.dec_stack)]:
            layer.W, layer.U, layer.b = z[f"{name}_W"], z[f"{name}_U"], z[f"{name}_b"]
        return m


def beam_search(
    step_fn,
    init_state,
    src_onehot: np.ndarray,
    src_len: int,
    inv_vocab: dict[int, str],
    voc_size: int,
    Lb: int,
    **kwargs,
) -> list[tuple[str, list[float], float, np.ndarray]]:
    """Model-agnostic A*-like beam over ONE line — thin wrapper around
    :func:`beam_search_multi` with a single line (``step_fn`` keeps the
    3-argument per-line signature)."""

    def sf(feed, states, prev_a, line_ids):
        return step_fn(feed, states, prev_a)

    return beam_search_multi(
        sf, [init_state], [src_onehot], [src_len], inv_vocab, voc_size, [Lb], **kwargs
    )[0]


def beam_search_multi(
    step_fn,
    init_states: list,
    src_onehots: list,
    src_lens: list,
    inv_vocab: dict[int, str],
    voc_size: int,
    Lbs: list,
    batch_cap: int = 8,
    beam_width_in: int = 15,
    beam_threshold: float = 0.2,
    beam_width_out: int = 4,
    rejection_threshold: float = 0.3,
    cost0: float = 3.0,
    lm_logprob=None,
) -> list[list[tuple[str, list[float], float, np.ndarray]]]:
    """Model-agnostic A*-like beam (reference decode_sequence_beam,
    seq2seq.py:1356-1544), vectorized ACROSS LINES: every line of the
    Arrow batch advances in lockstep and all lines' ≤``batch_cap`` best
    active hypotheses are stacked into ONE ``step_fn`` call per
    iteration — amortizing the decoder matmuls ~n_lines× over the
    per-line formulation while each line's search trajectory (pops,
    expansions, tiebreaks) is exactly the single-line algorithm's. The
    stacked step's floats (per-char probabilities, alignments) agree
    with the per-line step's to float32 rounding: numpy and BLAS round
    the same math differently at other array shapes.

    ``step_fn(feed (N,V), states (len N), prev_a (N,Lmax), line_ids (N,))
    -> (p (N,V), a (N,Lmax), states)`` where row i belongs to line
    ``line_ids[i]``; alignment rows are sliced back to each line's Lb.

    ``lm_logprob(history, ch) -> float`` switches hypothesis RANKING to
    a language model while the decoder still drives candidate selection
    and feedback (the reference's lm_predict mode, seq2seq.py:1486-1489:
    'use probability from LM instead of decoder for beam ratings').

    * per iteration the ≤``batch_cap`` best active hypotheses are
      stacked into ONE decoder step via ``step_fn(feed (B,V),
      states (len B), prev_a (B,Lb)) -> (p (B,V), a (B,Lb), states)``
      (the reference's predict_on_batch over fringe leaves,
      seq2seq.py:1422-1429);
    * the aligned INPUT character is injected as a fallback candidate
      floored at ``rejection_threshold`` whenever the hypothesis tracks
      the source (misalignment < 0.1) — the rejection path that keeps
      the decoder from hallucinating past the input
      (seq2seq.py:1455-1470); a rejection node carries a one-hot
      alignment at its source position;
    * variable beam width: candidates above highest·``beam_threshold``,
      capped at ``beam_width_in`` (seq2seq.py:1472-1483);
    * ranking/stopping by prospective cost cum + cost0·|length−src_len|
      (Node.pro_cost, seq2seq.py:1589-1597);
    * up to ``beam_width_out`` finals, best first, each with per-char
      probs and the soft-alignment matrix (so the Viterbi segmentation
      path survives beam mode).
    """
    import heapq
    from itertools import count

    n_lines = len(src_lens)
    Lmax = max(Lbs) if Lbs else 1

    class _Line:
        __slots__ = (
            "Lb", "src_len", "src_onehot", "arange_l", "tiebreak",
            "next_beam", "finals", "iters", "max_batches", "done", "root",
        )

        def __init__(self, li: int):
            self.Lb = Lbs[li]
            self.src_len = src_lens[li]
            self.src_onehot = src_onehots[li]
            self.arange_l = np.arange(self.Lb, dtype=np.float64)
            self.tiebreak = count()
            self.root = {
                "cum": 0.0,
                "chars": [],
                "probs": [],
                "aligns": [],
                "state": init_states[li],
                "feed": np.zeros(voc_size, dtype=np.float32),
                "prev_a": np.zeros(self.Lb, dtype=np.float32),
                "was_reject": False,
            }
            self.next_beam = [(self.pro_cost(0.0, 0), next(self.tiebreak), self.root)]
            self.finals: list[tuple[float, int, dict]] = []
            self.iters = 0
            self.max_batches = 2 * max(self.src_len, 1)
            self.done = False

        def pro_cost(self, cum: float, n_chars: int) -> float:
            # reference Node.length is root-inclusive (root length=1,
            # seq2seq.py:1556), so a hypothesis with k emitted chars ranks
            # as length k+1 against length0 = attended source length
            return cum + cost0 * abs((n_chars + 1) - max(self.src_len, 1))

    lines = [_Line(li) for li in range(n_lines)]
    while True:
        entries: list[tuple[int, dict]] = []
        for li, st in enumerate(lines):
            if st.done:
                continue
            if st.iters >= st.max_batches:
                st.done = True
                continue
            st.iters += 1
            beam = []
            while st.next_beam and len(beam) < batch_cap:
                pc, tb, node = heapq.heappop(st.next_beam)
                if node["chars"] and node["chars"][-1] == EOS:
                    heapq.heappush(st.finals, (pc, tb, node))
                else:
                    beam.append(node)
            if not beam:
                st.done = True
                continue
            if len(st.finals) > beam_width_out and st.finals[0][0] < st.pro_cost(
                beam[0]["cum"], len(beam[0]["chars"])
            ):
                st.done = True  # best final already beats the best active
                continue
            entries.extend((li, node) for node in beam)
        if not entries:
            break
        prev_pad = np.zeros((len(entries), Lmax), dtype=np.float32)
        for i, (li, node) in enumerate(entries):
            prev_pad[i, : lines[li].Lb] = node["prev_a"]
        p_all, a_all, new_states = step_fn(
            np.stack([n["feed"] for _, n in entries]),
            [n["state"] for _, n in entries],
            prev_pad,
            np.array([li for li, _ in entries], dtype=np.int64),
        )
        for i, (li, node) in enumerate(entries):
            st = lines[li]
            Lb, src_onehot, arange_l = st.Lb, st.src_onehot, st.arange_l
            p = p_all[i].astype(np.float64).copy()
            a = a_all[i][:Lb]
            n_chars = len(node["chars"])
            # estimate the current source position for rejection
            prev_a = node["prev_a"]
            if n_chars >= 1 and prev_a.any():
                prev_pos = float(prev_a @ arange_l)
                cur_pos = float(a @ arange_l)
                misalignment = abs(cur_pos - prev_pos - 1.0)
                if node["was_reject"]:
                    source_pos = int(prev_pos) + 1
                else:
                    source_pos = int(round(cur_pos))
            else:
                misalignment = 0.0
                source_pos = 0
            source_pos = min(max(source_pos, 0), Lb - 1)
            rej_idx = None
            if (
                rejection_threshold
                and (misalignment < 0.1 or node["was_reject"])
                and src_onehot[source_pos].any()
            ):
                rej_idx = int(src_onehot[source_pos].argmax())
                if p[rej_idx] < rejection_threshold:
                    p[rej_idx] = rejection_threshold
            order = np.argsort(-p)
            highest = p[order[0]]
            beampos = min(int((p >= highest * beam_threshold).sum()), beam_width_in)
            # soft feedback (reference compromise): children share the
            # rejection-floored score vector, but each accepted sibling
            # zeroes its index for the NEXT sibling ('only disable maxima
            # iteratively', seq2seq.py:1515-1520) so non-best hypotheses'
            # decoder feedback diverges exactly as the reference's does
            pfeed = p.astype(np.float32)
            for pos, idx in enumerate(order, start=1):
                idx = int(idx)
                score = float(p[idx])
                if score <= 0:
                    break
                is_rej = idx == rej_idx
                if pos > beampos and not is_rej:
                    if rej_idx is not None and p[rej_idx] <= score:
                        continue  # keep scanning for the rejection idx
                    break
                ch = inv_vocab.get(idx, "")
                if ch == "":
                    continue  # underspecified index 0
                align1 = np.eye(Lb, dtype=np.float32)[source_pos] if is_rej else a
                feed1 = pfeed.copy()
                pfeed[idx] = 0.0
                if lm_logprob is not None:
                    step_cost = -lm_logprob("".join(node["chars"]), ch)
                else:
                    step_cost = -float(np.log(max(score, 1e-12)))
                child = {
                    "cum": node["cum"] + step_cost,
                    "chars": node["chars"] + [ch],
                    "probs": node["probs"] + [score],
                    "aligns": node["aligns"] + [align1],
                    "state": new_states[i],
                    "feed": feed1,
                    "prev_a": align1,
                    "was_reject": is_rej,
                }
                heapq.heappush(
                    st.next_beam,
                    (
                        st.pro_cost(child["cum"], len(child["chars"])),
                        next(st.tiebreak),
                        child,
                    ),
                )
                if is_rej:
                    rej_idx = None
        # bound each line's open set (reference: keep the processable best)
        for st in lines:
            if len(st.next_beam) > st.max_batches * batch_cap:
                st.next_beam = heapq.nsmallest(st.max_batches * batch_cap, st.next_beam)
                heapq.heapify(st.next_beam)

    def node_result(st: "_Line", node: dict) -> tuple[str, list[float], float, np.ndarray]:
        chars, pr = list(node["chars"]), list(node["probs"])
        al = list(node["aligns"])
        if not chars or chars[-1] != EOS:
            chars.append(EOS)
            pr.append(1.0)
            al.append(al[-1] if al else np.ones(st.Lb, dtype=np.float32) / st.Lb)
        return "".join(chars), pr, node["cum"], np.stack(al)

    all_results = []
    for st in lines:
        results = []
        while st.finals and len(results) < beam_width_out:
            _, _, node = heapq.heappop(st.finals)
            results.append(node_result(st, node))
        if not results:
            # no final within limits: emit the best active hypothesis
            best = min(st.next_beam, key=lambda t: t[0])[2] if st.next_beam else st.root
            results.append(node_result(st, best))
        all_results.append(results)
    return all_results


def viterbi_path(soft_alignment: np.ndarray, min_score: float | None = None) -> dict[int, int]:
    """Best monotonic path through an (out_len, in_len) attention matrix →
    {input_offset: output_offset} map (the reference's `_alignment2path`,
    transcode.py:279-349, incl. the sparsity gate: cells below uniform
    probability contribute no gain).

    Row-vectorized DP (this was the pipeline's hottest loop — ~75% of
    UDF CPU as a per-cell Python loop): moves are diag/up (from the
    previous row) and left (within the row). Left-chains fold into a
    running max via the cumulative-gain trick
        D[o,i] = G[i] + max_{k≤i}(bp[k] − G[k−1]),
    where bp = max(D[o−1,·], D[o−1,·−1]) and G = cumsum(gain[o]),
    computed with np.maximum.accumulate; per-row argmax indices give
    exact backtracking."""
    O, I = soft_alignment.shape
    if O == 0 or I == 0:
        return {0: 0}
    if min_score is None:
        min_score = 1.0 / max(I, 1)
    # below-threshold cells are *unlikely*, not free: floor them hard
    # (the reference's sparsity gate skips them as ~impossible)
    logp = np.where(
        soft_alignment > min_score,
        np.log(np.maximum(soft_alignment, 1e-12)),
        np.log(1e-12),
    )
    NEG = -1e15
    idx = np.arange(I)
    D_prev = np.full(I, NEG)
    # row 0: can only be reached by left moves from (0,0)
    G0 = np.cumsum(logp[0])
    D_prev[:] = G0
    diag_choice = np.zeros((O, I), dtype=bool)  # True: diag beat up at k
    from_k = np.zeros((O, I), dtype=np.int32)  # left-chain origin per cell
    for o in range(1, O):
        shifted = np.concatenate(([NEG], D_prev[:-1]))  # D[o-1, i-1]
        diag = shifted >= D_prev
        bp = np.where(diag, shifted, D_prev)
        diag_choice[o] = diag
        G = np.cumsum(logp[o])
        Gm1 = np.concatenate(([0.0], G[:-1]))
        A = bp - Gm1
        M = np.maximum.accumulate(A)
        K = np.maximum.accumulate(np.where(A >= M, idx, 0))
        from_k[o] = K
        D_prev = G + M
    # backtrack
    path = {I: O}
    o, i = O - 1, I - 1
    pairs = [(i, o)]
    while o > 0:
        k = int(from_k[o][i])
        while i > k:  # left moves within row o
            i -= 1
            pairs.append((i, o))
        if diag_choice[o][k] and k > 0:
            o, i = o - 1, k - 1
        else:
            o, i = o - 1, k
        pairs.append((i, o))
    while i > 0:  # leftover left moves in row 0
        i -= 1
        pairs.append((i, 0))
    for i_, o_ in pairs:
        path[i_] = min(path.get(i_, o_), o_)
    path.setdefault(0, 0)
    return path
