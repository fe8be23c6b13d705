"""Faithful numpy re-implementation of the reference's Keras inference
graph, fed by its published HDF5 model files.

The reference persists models as Keras 2.x ``save_weights`` HDF5 plus a
``config`` group (width/depth/stateful/…/mapping —
/root/reference/ocrd_cor_asv_ann/lib/seq2seq.py:1121-1162). This module
loads that exact layout through the pure-Python reader in ``hdf5.py``
and runs the reference's inference graph forward-only:

* ``char_input_projection`` — tied Dense embedding, no bias
  (seq2seq.py:239-243); output = softmax(h @ kernel.T)
  (seq2seq.py:371-381, Press & Wolf weight tying).
* ``encoder_lstm_1`` — Bidirectional LSTM, concat merge; the BACKWARD
  final states initialise decoder layer 1 (seq2seq.py:275-281).
* ``encoder_lstm_n`` (n≥2) — unidirectional stack, optional residual
  adds (seq2seq.py:285-292), optional bridge Dense on the states
  (seq2seq.py:300-301).
* ``decoder_lstm_n`` — LSTM stack; the TOP layer is
  RNN(DenseAnnotationAttention(LSTMCell)) with input_mode=concatenate /
  output_mode=cell_output (seq2seq.py:345-357):
  e = exp(tanh(h_prev·W_a + b_UW + u)·v_a + b_v), u = attention_dense
  applied to the encoder output once per line, local window
  |prev_alignment·steps + 1 − step| < 5
  (lib/attention.py:530-575, 593-609).
* greedy decode: full-distribution (soft) feedback, argmax excluding
  index 0, per-line freeze after '\\n', step cap 2×batch_length
  (seq2seq.py:1230-1286).

Keras LSTM gate order is (i, f, c, o); recurrent_activation=sigmoid as
the reference configures (seq2seq.py:270-272). The stored bias already
contains unit_forget_bias, so no +1 is applied here.
"""

from __future__ import annotations

import numpy as np

from .hdf5 import H5Group, read_h5
from .seq2seq_np import _sigmoid, _softmax

EOS = "\n"


def write_keras_fixture(
    path: str,
    chars: str = "abcdefghijklmnopqrstuvwxyz .,-",
    width: int = 16,
    depth: int = 2,
    seed: int = 7,
    bridge_dense: bool = False,
    residual: bool = False,
    deep_bidirectional: bool = False,
    stateful: bool = False,
    **h5_layout,
) -> dict:
    """Write a seeded random model in the reference's exact HDF5 layout
    (Keras 2.x save_weights groups + the config group of
    seq2seq.py:1128-1141) so the loader is exercised against the real
    file structure without shipping a multi-MB trained model.

    ``h5_layout`` kwargs pass through to :func:`hdf5.write_h5`
    (chunked/gzip chunk B-trees, multi-SNOD groups, superblock v1) so
    fixture files can carry the physical structures real h5py output
    uses, not only the writer's simplest contiguous layout."""
    from .hdf5 import write_h5

    rng = np.random.default_rng(seed)
    mapping = [0] + [ord(c) for c in sorted(set(chars) | {EOS})]
    V, W, D = len(mapping), width, depth

    def mat(*shape):
        fan = shape[0] if len(shape) > 1 else 1
        return (rng.standard_normal(shape) * 0.5 / np.sqrt(max(fan, 1))).astype(np.float32)

    def lstm(in_dim):
        return {
            "kernel:0": mat(in_dim, 4 * W),
            "recurrent_kernel:0": mat(W, 4 * W),
            "bias:0": np.zeros(4 * W, dtype=np.float32),
        }

    enc_dim = 2 * W if (D == 1 or deep_bidirectional) else W
    tree: dict = {
        "config": {
            "width": np.array(W),
            "depth": np.array(D),
            "stateful": np.array(stateful),
            "residual_connections": np.array(residual),
            "deep_bidirectional_encoder": np.array(deep_bidirectional),
            "bridge_dense": np.array(bridge_dense),
            "mapping": np.array(mapping, dtype=np.uint32),
        },
        "char_input_projection": {"char_embedding": {"kernel:0": mat(V, W)}},
        "encoder_lstm_1": {
            "encoder_lstm_1": {
                "forward_encoder_lstm_1": lstm(W),
                "backward_encoder_lstm_1": lstm(W),
            }
        },
        "attention_dense": {"dense_1": {"kernel:0": mat(enc_dim, W)}},
    }
    layer_names = ["char_input_projection", "encoder_lstm_1"]
    for n in range(2, D + 1):
        if deep_bidirectional:
            tree[f"encoder_lstm_{n}"] = {
                f"encoder_lstm_{n}": {
                    f"forward_encoder_lstm_{n}": lstm(2 * W),
                    f"backward_encoder_lstm_{n}": lstm(2 * W),
                }
            }
        else:
            tree[f"encoder_lstm_{n}"] = {
                f"encoder_lstm_{n}": lstm(2 * W if n == 2 else W)
            }
        layer_names.append(f"encoder_lstm_{n}")
    if bridge_dense:
        for n in range(1, D + 1):
            for side in ("h", "c"):
                lname = f"bridge_{side}_{n}"
                tree[lname] = {
                    lname: {
                        "kernel:0": mat(W, W),
                        "bias:0": np.zeros(W, dtype=np.float32),
                    }
                }
                layer_names.append(lname)
    for n in range(1, D + 1):
        body = lstm(W + enc_dim if n == D else W)
        if n == D:
            body.update(
                {
                    "W_a:0": mat(W, W),
                    "v_a:0": mat(W, 1),
                    "b_UW:0": np.zeros(W, dtype=np.float32),
                    "b_v:0": np.zeros(1, dtype=np.float32),
                }
            )
        tree[f"decoder_lstm_{n}"] = {f"decoder_lstm_{n}": body}
        layer_names.append(f"decoder_lstm_{n}")
    layer_names.append("attention_dense")

    def weight_names(layer: str) -> np.ndarray:
        inner = tree[layer]

        def walk(node, prefix):
            for k, v in node.items():
                if isinstance(v, dict):
                    yield from walk(v, f"{prefix}{k}/")
                else:
                    yield f"{prefix}{k}"

        return np.array([n.encode() for n in walk(inner, "")])

    attrs = {
        "": {
            "layer_names": np.array([n.encode() for n in layer_names]),
            "backend": b"tensorflow",
            "keras_version": b"2.3.1",
        }
    }
    for layer in layer_names:
        attrs[layer] = {"weight_names": weight_names(layer)}
    write_h5(path, tree, attrs, **h5_layout)
    return {"mapping": mapping, "width": W, "depth": D}


class _LSTM:
    """Keras-layout LSTM parameters: kernel (in,4H), recurrent (H,4H),
    bias (4H); gate order i,f,c,o."""

    def __init__(self, kernel: np.ndarray, recurrent: np.ndarray, bias: np.ndarray):
        self.W = kernel.astype(np.float32)
        self.U = recurrent.astype(np.float32)
        self.b = bias.astype(np.float32)
        self.hid = recurrent.shape[0]

    def step(self, x, h, c):
        z = x @ self.W + h @ self.U + self.b
        H = self.hid
        i = _sigmoid(z[:, :H])
        f = _sigmoid(z[:, H : 2 * H])
        g = np.tanh(z[:, 2 * H : 3 * H])
        o = _sigmoid(z[:, 3 * H :])
        c2 = f * c + i * g
        h2 = o * np.tanh(c2)
        return h2, c2

    def run(self, X, reverse: bool = False):
        """X (B,T,in) → (sequence (B,T,H), final h, final c). For
        reverse=True the output sequence is re-reversed to input order
        (Keras Bidirectional semantics)."""
        B, T, _ = X.shape
        h = np.zeros((B, self.hid), dtype=np.float32)
        c = np.zeros((B, self.hid), dtype=np.float32)
        out = np.zeros((B, T, self.hid), dtype=np.float32)
        steps = range(T - 1, -1, -1) if reverse else range(T)
        for t in steps:
            h, c = self.step(X[:, t, :], h, c)
            out[:, t, :] = h
        return out, h, c


def _split_attr(attrs: dict, name: str) -> list:
    """Keras splits attributes larger than the 64 KB object-header limit
    into ``name0``, ``name1``, … chunks (save_attributes_to_hdf5_group);
    reassemble either form."""
    if name in attrs:
        return list(attrs[name])
    out: list = []
    i = 0
    while f"{name}{i}" in attrs:
        out.extend(attrs[f"{name}{i}"])
        i += 1
    return out


def _layer_arrays(group: H5Group) -> dict[str, np.ndarray]:
    """All datasets under a Keras layer group keyed by their full
    relative path (e.g. 'forward_encoder_lstm_1/kernel:0')."""
    return {path: ds.data for path, ds in group.visit_datasets()}


def _find(arrays: dict[str, np.ndarray], basename: str, prefix: str = "") -> np.ndarray:
    hits = [
        v for k, v in arrays.items() if k.rsplit("/", 1)[-1] == basename and prefix in k
    ]
    if len(hits) != 1:
        raise KeyError(f"expected 1 weight {basename} (prefix '{prefix}'), got {len(hits)}")
    return hits[0]


class RefSeq2Seq:
    """Forward-only reference graph. Construct via :meth:`load_h5`."""

    def __init__(self, config: dict, layers: dict[str, dict[str, np.ndarray]]):
        def scalar(v):
            return np.asarray(v).reshape(-1)[0] if np.ndim(v) else v

        self.width = int(scalar(config["width"]))
        self.depth = int(scalar(config["depth"]))
        self.residual = bool(scalar(config.get("residual_connections", False)))
        self.bridge = bool(scalar(config.get("bridge_dense", False)))
        self.deep_bidi = bool(scalar(config.get("deep_bidirectional_encoder", False)))
        # stateful models thread decoder state across consecutive lines
        # (the reference saves/loads the flag, seq2seq.py:1134/1152, and
        # its generator resets state at file boundaries —
        # gen_data:851-853, callbacks.py ResetStatesCallback; published
        # correction models are stateless, their filenames literally
        # carry ".stateless."). Decode such models line-sequentially per
        # document via :meth:`decode_greedy_docs`; the stateless batch
        # path also works and simply ignores continuation.
        self.stateful = bool(scalar(config.get("stateful", False)))
        self.window = 5  # fixed in the reference (seq2seq.py:349)
        mapping = config["mapping"]  # uint32 codepoints, index 0 = ''
        self.c_i = {(chr(c) if c > 0 else ""): i for i, c in enumerate(mapping)}
        self.i_c = {i: (chr(c) if c > 0 else "") for i, c in enumerate(mapping)}
        self.voc_size = len(mapping)

        self.embed = _find(layers["char_input_projection"], "kernel:0").astype(np.float32)
        enc1 = layers["encoder_lstm_1"]
        self.enc_fwd = _LSTM(
            _find(enc1, "kernel:0", "forward"),
            _find(enc1, "recurrent_kernel:0", "forward"),
            _find(enc1, "bias:0", "forward"),
        )
        self.enc_bwd = _LSTM(
            _find(enc1, "kernel:0", "backward"),
            _find(enc1, "recurrent_kernel:0", "backward"),
            _find(enc1, "bias:0", "backward"),
        )
        if self.deep_bidi:
            # every encoder layer is Bidirectional over the cross_sum of
            # the previous layer's fwd+bwd outputs (seq2seq.py:246-262)
            self.enc_stack = [
                (
                    _LSTM(
                        _find(layers[f"encoder_lstm_{n}"], "kernel:0", "forward"),
                        _find(layers[f"encoder_lstm_{n}"], "recurrent_kernel:0", "forward"),
                        _find(layers[f"encoder_lstm_{n}"], "bias:0", "forward"),
                    ),
                    _LSTM(
                        _find(layers[f"encoder_lstm_{n}"], "kernel:0", "backward"),
                        _find(layers[f"encoder_lstm_{n}"], "recurrent_kernel:0", "backward"),
                        _find(layers[f"encoder_lstm_{n}"], "bias:0", "backward"),
                    ),
                )
                for n in range(2, self.depth + 1)
            ]
        else:
            self.enc_stack = [
                _LSTM(
                    _find(layers[f"encoder_lstm_{n}"], "kernel:0"),
                    _find(layers[f"encoder_lstm_{n}"], "recurrent_kernel:0"),
                    _find(layers[f"encoder_lstm_{n}"], "bias:0"),
                )
                for n in range(2, self.depth + 1)
            ]
        self.bridges = []
        if self.bridge:
            for n in range(1, self.depth + 1):
                bh, bc = layers[f"bridge_h_{n}"], layers[f"bridge_c_{n}"]
                self.bridges.append(
                    (
                        _find(bh, "kernel:0"), _find(bh, "bias:0"),
                        _find(bc, "kernel:0"), _find(bc, "bias:0"),
                    )
                )
        self.dec_stack = [
            _LSTM(
                _find(layers[f"decoder_lstm_{n}"], "kernel:0"),
                _find(layers[f"decoder_lstm_{n}"], "recurrent_kernel:0"),
                _find(layers[f"decoder_lstm_{n}"], "bias:0"),
            )
            for n in range(1, self.depth + 1)
        ]
        top = layers[f"decoder_lstm_{self.depth}"]
        self.W_a = _find(top, "W_a:0").astype(np.float32)
        self.v_a = _find(top, "v_a:0").astype(np.float32).reshape(-1)
        self.b_UW = _find(top, "b_UW:0").astype(np.float32)
        self.b_v = float(_find(top, "b_v:0").reshape(-1)[0])
        self.att_dense = _find(layers["attention_dense"], "kernel:0").astype(np.float32)

    # --- loading -------------------------------------------------------------

    @classmethod
    def load_h5(cls, path: str) -> "RefSeq2Seq":
        f = read_h5(path)
        return cls.from_h5_group(f)

    @classmethod
    def from_h5_group(cls, f: H5Group) -> "RefSeq2Seq":
        g = f
        if not _split_attr(f.attrs, "layer_names") and "model_weights" in f:
            g = f["model_weights"]  # whole-model save; weights nested
        cfg_grp = f["config"] if "config" in f else g["config"]
        config = {
            name: ds.data for name, ds in cfg_grp.members.items() if hasattr(ds, "data")
        }
        layer_names = [
            b.decode() if isinstance(b, bytes) else str(b)
            for b in _split_attr(g.attrs, "layer_names")
        ]
        layers = {name: _layer_arrays(g[name]) for name in layer_names if name in g}
        return cls(config, layers)

    def state(self) -> dict:
        """Broadcastable state (numpy only)."""
        return {"kind": "ref", "config_weights": self.__dict__.copy()}

    @classmethod
    def from_state(cls, state: dict) -> "RefSeq2Seq":
        m = cls.__new__(cls)
        m.__dict__.update(state["config_weights"])
        return m

    # --- forward -------------------------------------------------------------

    def encode_onehot(self, texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
        lens = np.array([len(t) for t in texts], dtype=np.int64)
        L = int(lens.max()) if len(lens) else 0
        X = np.zeros((len(texts), L, self.voc_size), dtype=np.float32)
        for b, t in enumerate(texts):
            for j, ch in enumerate(t):
                X[b, j, self.c_i.get(ch, 0)] = 1.0
        return X, lens

    def encode_problines(
        self, texts: list[str], confs: list[list[float] | None]
    ) -> tuple[np.ndarray, np.ndarray]:
        """Encoding 2 (prob line): char index carries its confidence,
        the rest of the mass goes to index 0 (seq2seq.py:953-955)."""
        lens = np.array([len(t) for t in texts], dtype=np.int64)
        L = int(lens.max()) if len(lens) else 0
        X = np.zeros((len(texts), L, self.voc_size), dtype=np.float32)
        for b, (t, cs) in enumerate(zip(texts, confs)):
            for j, ch in enumerate(t):
                p = float(cs[j]) if cs is not None and j < len(cs) else 1.0
                X[b, j, self.c_i.get(ch, 0)] = p
                X[b, j, 0] += 1.0 - p
        return X, lens

    def encode_confmat(
        self, confmats: list[list[list[tuple[str, float]]]]
    ) -> tuple[np.ndarray, np.ndarray]:
        """Encoding 3 (confusion network): chunks zero-padded to their
        longest alternative, probability mass added at each alternative's
        char positions (seq2seq.py:956-958, 1052-1082)."""
        lens = []
        rows: list[list[np.ndarray]] = []
        for cm in confmats:
            line_rows: list[np.ndarray] = []
            for chunk in cm:
                width = max((len(alt) for alt, _ in chunk), default=0)
                block = np.zeros((width, self.voc_size), dtype=np.float32)
                for alt, p in chunk:
                    for k in range(width):
                        idx = self.c_i.get(alt[k], 0) if k < len(alt) else 0
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

    def decode_greedy_prob(self, texts: list[str], confs: list[list[float] | None]):
        if not texts:
            return [], [], []
        X, lens = self.encode_problines(texts, confs)
        return self._decode_greedy_X(X, lens)

    def decode_greedy_confmat(self, confmats):
        if not confmats:
            return [], [], []
        X, lens = self.encode_confmat(confmats)
        return self._decode_greedy_X(X, lens)

    @staticmethod
    def _cross_sum(x: np.ndarray) -> np.ndarray:
        """i_next_fw[k] = i_next_bw[k] = o_fw[k-1] + o_bw[k-1]: the
        reference's own numpy formula (seq2seq.py:247-252)."""
        return x + np.flip(
            x.reshape(x.shape[:-1] + (x.shape[-1] // 2, 2)), -1
        ).reshape(x.shape)

    def encode(self, X: np.ndarray):
        """(B,T,V) → (encoder output (B,T,enc_dim), [(h,c)] per layer)."""
        E = X @ self.embed
        fwd, _, _ = self.enc_fwd.run(E)
        bwd, bh, bc = self.enc_bwd.run(E, reverse=True)
        out = np.concatenate([fwd, bwd], axis=-1)
        states = [(bh, bc)]  # backward states init decoder layer 1
        prev = out
        for n, layer in enumerate(self.enc_stack):
            if self.deep_bidi:
                fwd_l, bwd_l = layer
                xin = self._cross_sum(prev)
                f_seq, _, _ = fwd_l.run(xin)
                b_seq, sh, sc = bwd_l.run(xin, reverse=True)
                seq = np.concatenate([f_seq, b_seq], axis=-1)
            else:
                seq, sh, sc = layer.run(prev)
            if self.residual and n >= 1:
                seq = seq + prev
            prev = seq
            out = seq
            states.append((sh, sc))
        if self.bridge:
            states = [
                (
                    np.tanh(h @ Wh + bh_),
                    np.tanh(c @ Wc + bc_),
                )
                for (h, c), (Wh, bh_, Wc, bc_) in zip(states, self.bridges)
            ]
        return out, states

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
        """Beamed decode on the reference graph: batched encoder once,
        then ALL lines' beams expand in lockstep — one stacked decoder
        step per iteration over every line's active hypotheses (shared
        :func:`beam_search_multi` — rejection path, variable width,
        prospective-cost ranking). Each line's trajectory is the per-line
        formulation's; for a batch of uniform-length lines the texts,
        probabilities and alignments are exactly equal too (pinned by
        test_encodings_beam with ``array_equal``). Same contract as
        greedy."""
        from .seq2seq_np import beam_search_multi

        if not texts:
            return [], [], []
        X, lens = self.encode_onehot(texts)
        B_all, T, V = X.shape
        if T == 0:
            return [EOS] * B_all, [[1.0]] * B_all, [np.ones((1, 1), dtype=np.float32)] * B_all
        enc_full, states_full = self.encode(X)
        Lbs = [max(int(l), 1) for l in lens]
        Lmax = max(Lbs)
        lens_arr = np.array(Lbs, dtype=np.int64)
        enc_t = enc_full[:, :Lmax]
        u_t = enc_t @ self.att_dense
        steps_idx = np.arange(Lmax, dtype=np.float32)

        def step(feed, states, prev_a, line_ids):
            x = feed @ self.embed
            layer_in = x
            h_new, c_new = [], []
            for n in range(self.depth - 1):
                hn, cn = self.dec_stack[n].step(
                    layer_in,
                    np.stack([s[0][n] for s in states]),
                    np.stack([s[1][n] for s in states]),
                )
                h_new.append(hn)
                c_new.append(cn)
                layer_in = hn + layer_in if (self.residual and n > 0) else hn
            h_top = np.stack([s[0][-1] for s in states])
            c_top = np.stack([s[1][-1] for s in states])
            w = h_top @ self.W_a + self.b_UW
            e = np.exp(np.tanh(w[:, None, :] + u_t[line_ids]) @ self.v_a + self.b_v)
            if self.window > 0:
                timestep = prev_a @ steps_idx + 1.0
                local = np.abs(timestep[:, None] - steps_idx[None, :]) < self.window
                e = e * local
            # the reference graph has no padding mask; the per-line path
            # sliced enc to Lb — zeroing padded energies reproduces the
            # sliced computation exactly (zero weight, zero context terms)
            e = e * (np.arange(Lmax)[None, :] < lens_arr[line_ids][:, None])
            a = e / np.maximum(e.sum(axis=1, keepdims=True), 1e-30)
            ctx = (a[:, :, None] * enc_t[line_ids]).sum(axis=1)
            cell_in = np.concatenate([layer_in, ctx], axis=-1)
            h2, c2 = self.dec_stack[-1].step(cell_in, h_top, c_top)
            h_new.append(h2)
            c_new.append(c2)
            out = h2 + layer_in if (self.residual and self.depth > 1) else h2
            p = _softmax(out @ self.embed.T, axis=-1)
            p[:, 0] = 0.0
            new_states = [
                ([hd[i] for hd in h_new], [cd[i] for cd in c_new])
                for i in range(len(states))
            ]
            return p, a, new_states

        init_states = [
            (
                [states_full[n][0][b] for n in range(self.depth)],
                [states_full[n][1][b] for n in range(self.depth)],
            )
            for b in range(B_all)
        ]
        finals_per_line = beam_search_multi(
            step,
            init_states,
            [X[b, : Lbs[b]] for b in range(B_all)],
            [int(l) for l in lens],
            self.i_c,
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

    def decode_greedy_batch(self, texts: list[str]):
        """Reference decode_batch_greedy semantics (seq2seq.py:1215-1286):
        returns (output strings, per-char probs, per-line soft-alignment
        matrices). Strings that never emit EOS within 2·L steps get EOS
        appended so downstream whitespace redistribution sees a line end
        (the reference leaves them unterminated and logs a warning)."""
        if not texts:
            return [], [], []
        X, lens = self.encode_onehot(texts)
        return self._decode_greedy_X(X, lens)

    def decode_greedy_docs(self, doc_lines: list[list[str]]):
        """Stateful greedy decode: each document's lines run in order
        with the decoder LSTM states CARRIED from line to line, reset at
        document boundaries (the reference's stateful-mode contract —
        state transfer between batches, ResetStatesCallback reset at
        file/EOF boundaries). Vectorized across documents: round r
        decodes every document's r-th line in ONE batched pass, so the
        numpy matmuls amortize over documents while each document's
        lines stay strictly sequential.

        Returns per-document lists of (texts, probs, aligns) with the
        same per-line contract as :meth:`decode_greedy_batch`. Alignment
        state is per-line (attention is over each line's own encoder
        output) — only the LSTM (h, c) carry across lines."""
        n_docs = len(doc_lines)
        outs = [[] for _ in range(n_docs)]
        probs = [[] for _ in range(n_docs)]
        aligns = [[] for _ in range(n_docs)]
        carried: list[tuple | None] = [None] * n_docs
        r = 0
        while True:
            lanes = [d for d in range(n_docs) if r < len(doc_lines[d])]
            if not lanes:
                break
            texts = [doc_lines[d][r] for d in lanes]
            X, lens = self.encode_onehot(texts)
            init = None
            if r > 0:
                init = [
                    (
                        np.stack([carried[d][n][0] for d in lanes]),
                        np.stack([carried[d][n][1] for d in lanes]),
                    )
                    for n in range(self.depth)
                ]
            if X.shape[1] == 0:
                # batch of empty lines: emit EOS, states pass through
                for d in lanes:
                    outs[d].append(EOS)
                    probs[d].append([1.0])
                    aligns[d].append(np.ones((1, 1), dtype=np.float32))
                    if carried[d] is None:
                        carried[d] = [
                            (np.zeros(self.width, np.float32),
                             np.zeros(self.width, np.float32))
                            for _ in range(self.depth)
                        ]
                r += 1
                continue
            o, p, a, fin = self._decode_greedy_X(
                X, lens, init_dec_states=init, return_states=True)
            for i, d in enumerate(lanes):
                outs[d].append(o[i])
                probs[d].append(p[i])
                aligns[d].append(a[i])
                carried[d] = [(fin[n][0][i], fin[n][1][i]) for n in range(self.depth)]
            r += 1
        return outs, probs, aligns

    def _decode_greedy_X(
        self,
        X: np.ndarray,
        lens: np.ndarray,
        init_dec_states: list | None = None,
        return_states: bool = False,
    ):
        B, T, V = X.shape
        if T == 0:
            return [EOS] * B, [[1.0]] * B, [np.ones((1, 1), dtype=np.float32)] * B
        enc_out, states = self.encode(X)
        u = enc_out @ self.att_dense  # decoder-independent annotation half
        if init_dec_states is not None:
            # stateful continuation: carried decoder states replace the
            # encoder-derived initialisation
            h = [s[0].copy() for s in init_dec_states]
            c = [s[1].copy() for s in init_dec_states]
        else:
            h = [s[0].copy() for s in states]
            c = [s[1].copy() for s in states]
        fin_h = [s.copy() for s in h]
        fin_c = [s.copy() for s in c]
        prev_a = np.zeros((B, T), dtype=np.float32)
        feed = np.zeros((B, V), dtype=np.float32)  # start-of-sequence
        steps_idx = np.arange(T, dtype=np.float32)
        done = np.zeros(B, dtype=bool)
        rows = np.arange(B)
        max_steps = 2 * T
        rec_idx = np.full((max_steps, B), -1, dtype=np.int64)
        rec_prob = np.zeros((max_steps, B), dtype=np.float64)
        rec_attn = np.zeros((max_steps, B, T), dtype=np.float32)
        n_steps = 0
        for step in range(max_steps):
            x = feed @ self.embed
            layer_in = x
            for n in range(self.depth - 1):
                hn, cn = self.dec_stack[n].step(layer_in, h[n], c[n])
                h[n], c[n] = hn, cn
                layer_in = hn + layer_in if (self.residual and n > 0) else hn
            # attention (computed from the PREVIOUS top cell state)
            w = h[-1] @ self.W_a + self.b_UW  # (B, W)
            e = np.exp(np.tanh(w[:, None, :] + u) @ self.v_a + self.b_v)  # (B,T)
            if self.window > 0:
                timestep = prev_a @ steps_idx + 1.0  # (B,)
                local = np.abs(timestep[:, None] - steps_idx[None, :]) < self.window
                e = e * local
            a = e / np.maximum(e.sum(axis=1, keepdims=True), 1e-30)
            ctx = (a[:, :, None] * enc_out).sum(axis=1)
            cell_in = np.concatenate([layer_in, ctx], axis=-1)
            h[-1], c[-1] = self.dec_stack[-1].step(cell_in, h[-1], c[-1])
            out = h[-1] + layer_in if (self.residual and self.depth > 1) else h[-1]
            p = _softmax(out @ self.embed.T, axis=-1)
            nxt = p[:, 1:].argmax(axis=-1) + 1  # exclude index 0
            active = ~done
            rec_idx[step, active] = nxt[active]
            rec_prob[step, active] = p[rows, nxt][active]
            rec_attn[step, active, :] = a[active, :]
            emitted_eos = np.array([self.i_c.get(int(i), "") == EOS for i in nxt])
            just_done = active & emitted_eos
            if return_states and just_done.any():
                # freeze each line's carry-state at its own EOS step
                for n in range(self.depth):
                    fin_h[n][just_done] = h[n][just_done]
                    fin_c[n][just_done] = c[n][just_done]
            done |= just_done
            n_steps = step + 1
            feed = p  # soft feedback (reference: decoder_input_data = scores)
            prev_a = a
            if done.all():
                break
        if return_states and not done.all():
            for n in range(self.depth):
                fin_h[n][~done] = h[n][~done]
                fin_c[n][~done] = c[n][~done]
        outs, probs, aligns = [], [], []
        for b in range(B):
            col = rec_idx[:n_steps, b]
            valid = col >= 0
            chars = [self.i_c.get(int(i), "") for i in col[valid]]
            pr = rec_prob[:n_steps, b][valid].tolist()
            al = rec_attn[:n_steps, b, : max(lens[b], 1)][valid]
            # the reference graph has NO attention mask over batch padding
            # (no Masking layer at inference), so a short line's alignment
            # mass can sit partly on padded positions; renormalize the
            # slice over the real input (uniform for all-padding rows) so
            # the Viterbi segmentation downstream sees a distribution
            if al.size:
                sums = al.sum(axis=1, keepdims=True)
                al = np.where(sums > 1e-9, al / np.maximum(sums, 1e-9), 1.0 / al.shape[1])
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
