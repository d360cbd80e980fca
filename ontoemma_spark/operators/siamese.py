"""M3 architecture parity: the reference's siamese BiLSTM/char-CNN pair
scorer (emma/allennlp_classes/ontoemma_model.py:73-164, shapes from
config/ontoemma_nn_all.json:22-87) as a deterministic numpy forward
pass with Arrow-batched Spark inference.

Dataflow (faithful to OntoEmmaNN.forward):

  token vec   = word_embedding(300, frozen) ⊕ char_CNN(char_emb 100 →
                50 filters × ngram sizes {4,5} → 100)            = 400
  name enc    = BiLSTM(input 400, hidden 100, 2 layers, bi) final
                state of last layer, both directions             = 200
  alias enc   = name encoder over each alias; _get_max_sim picks the
                (s_alias, t_alias) pair with max dot product
                (ontoemma_model.py:46-71) → best alias encodings = 200
  def enc     = word_embedding(300) → BiLSTM(300→100×2, bi)      = 200
  siamese FF  = relu MLP 600 → 100 → 100 per entity              = 100
  decision FF = [32 engineered ⊕ s(100) ⊕ t(100)] = 232 → relu 232
                → linear 1 → sigmoid

Differences from the reference, all forced by the environment and
documented:
  * no torch/AllenNLP in this container → the forward pass is numpy
    (exact same math; LSTM uses torch's i,f,g,o gate order so a
    reference-trained state_dict maps 1:1 via from_allennlp_state);
  * the pretrained GloVe-style table (data/embeddings/weights300.txt.gz,
    external data) is not shipped in the sandbox —
    load_word_embeddings(path) READS the reference's file format
    (GloVe text, optionally gzipped) when the user supplies it, with
    deterministic hashed vectors standing in for the table when absent
    and for OOV tokens;
  * dropout is inference-mode (identity), matching model.eval().

Inference runs as iterator mapInPandas: weights realized once per
partition, every batch vectorized across rows (token embedding gather,
timestep-loop LSTM with masks — no per-row Python inside the numeric
path). This is NOT the 10^12-pair hot path (align() uses the native
codegen MLP); it is the compatibility path for reference-trained
models, batch_size semantics per emma/OntoEmma.py:737,766-797.
"""

from __future__ import annotations

import gzip
import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

WORD_DIM = 300
CHAR_DIM = 100
CHAR_FILTERS = 50
CHAR_NGRAMS = (4, 5)
TOKEN_DIM = WORD_DIM + CHAR_FILTERS * len(CHAR_NGRAMS)  # 400
HIDDEN = 100
ENC_DIM = 2 * HIDDEN  # 200 (bidirectional final state)
SIAMESE_DIMS = (600, 100, 100)
DECISION_IN = 232  # 32 engineered + 2 × 100 siamese outputs
MAX_ALIASES = 16   # ontoemma_dataset_reader.py:153-159 sample_n
MAX_ALIAS_LEN = 128


def _tokenize(text: str | None) -> list[str]:
    return [t for t in (text or "").lower().split() if t]


def _hashed_vector(token: str, dim: int, salt: str) -> np.ndarray:
    """Deterministic pseudo-embedding: seed an RNG from a stable digest
    of (salt, token). Stands in for the frozen pretrained table."""
    h = hashlib.sha256(f"{salt}\x00{token}".encode()).digest()
    rng = np.random.RandomState(int.from_bytes(h[:4], "big"))
    return rng.normal(0.0, 0.3, size=dim)


class _EmbeddingCache:
    """Per-partition token→vector cache (the pretrained-table stand-in;
    swap load_word_embeddings() to read a real table)."""

    def __init__(self, dim: int, salt: str):
        self.dim = dim
        self.salt = salt
        self._cache: dict[str, np.ndarray] = {}

    def __call__(self, token: str) -> np.ndarray:
        v = self._cache.get(token)
        if v is None:
            v = _hashed_vector(token, self.dim, self.salt)
            self._cache[token] = v
        return v


class _TableEmbedding(_EmbeddingCache):
    """Pretrained word table with the deterministic hashed fallback for
    OOV tokens (AllenNLP backfills OOV with random vectors at load; the
    hashed stand-in keeps that reproducible across executors)."""

    def __init__(self, table: dict[str, np.ndarray], dim: int, salt: str):
        super().__init__(dim, salt)
        self.table = table

    def __call__(self, token: str) -> np.ndarray:
        v = self.table.get(token)
        return v if v is not None else super().__call__(token)


def load_word_embeddings(path: str | None = None) -> _EmbeddingCache:
    """Seam for the reference's pretrained 300-d table
    (config/ontoemma_nn_all.json:27 weights300.txt.gz, GloVe text
    format: `word v1 .. v300` per line, space- or tab-separated,
    optionally gzipped; an optional word2vec-style `count dim` header
    line is skipped). Without a path the deterministic hashed table is
    used.

    Vectors load as float32 — a full 2.2M-word GloVe table is ~2.6 GiB
    at f32 vs 5+ at f64; it rides to executors inside the task closure
    like the model weights, realized once per partition.
    """
    if path is None:
        return _EmbeddingCache(WORD_DIM, "word300")
    table: dict[str, np.ndarray] = {}
    opener = gzip.open if str(path).endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8", errors="replace") as f:
        for ln, line in enumerate(f):
            parts = line.rstrip("\r\n").replace("\t", " ").split(" ")
            if ln == 0 and len(parts) == 2:
                continue  # word2vec header: "<vocab_size> <dim>"
            if len(parts) < 2:
                continue  # blank/stray line
            word, vals = parts[0], [p for p in parts[1:] if p]
            if len(vals) != WORD_DIM:
                raise ValueError(
                    f"{path} line {ln + 1}: {len(vals)} dims for "
                    f"{word!r}, model expects {WORD_DIM}"
                )
            table[word] = np.asarray(vals, dtype=np.float32)
    return _TableEmbedding(table, WORD_DIM, "word300")


def _relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0.0)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60, 60)))


class LSTMLayer:
    """Single-direction LSTM layer, torch parameter layout: weight_ih
    (4H, I), weight_hh (4H, H), bias_ih/bias_hh (4H,), gate order
    i, f, g, o — so torch state_dict arrays drop in unchanged."""

    def __init__(self, w_ih, w_hh, b_ih, b_hh):
        self.w_ih = np.asarray(w_ih, dtype=np.float64)
        self.w_hh = np.asarray(w_hh, dtype=np.float64)
        self.b_ih = np.asarray(b_ih, dtype=np.float64)
        self.b_hh = np.asarray(b_hh, dtype=np.float64)
        self.hidden = self.w_hh.shape[1]

    def run(self, X: np.ndarray, mask: np.ndarray, reverse: bool = False):
        """X (B, T, I), mask (B, T) → outputs (B, T, H), final h (B, H).
        Masked steps carry state through unchanged (torch packed-seq
        semantics: the final state is the last REAL step's state)."""
        B, T, _ = X.shape
        H = self.hidden
        h = np.zeros((B, H))
        c = np.zeros((B, H))
        outs = np.zeros((B, T, H))
        steps = range(T - 1, -1, -1) if reverse else range(T)
        for t in steps:
            x_t = X[:, t, :]
            gates = x_t @ self.w_ih.T + self.b_ih + h @ self.w_hh.T + self.b_hh
            i = _sigmoid(gates[:, 0 * H:1 * H])
            f = _sigmoid(gates[:, 1 * H:2 * H])
            g = np.tanh(gates[:, 2 * H:3 * H])
            o = _sigmoid(gates[:, 3 * H:4 * H])
            c_new = f * c + i * g
            h_new = o * np.tanh(c_new)
            m = mask[:, t:t + 1]
            c = m * c_new + (1.0 - m) * c
            h = m * h_new + (1.0 - m) * h
            outs[:, t, :] = h * m
        return outs, h


class BiLSTMEncoder:
    """AllenNLP lstm Seq2VecEncoder: num_layers stacked bidirectional
    layers; the vector is the LAST layer's final states, forward ⊕
    backward (input 400→ hidden 100 ×2 dirs = 200 out)."""

    def __init__(self, layers: list[tuple[LSTMLayer, LSTMLayer]]):
        self.layers = layers

    def encode(self, X: np.ndarray, mask: np.ndarray) -> np.ndarray:
        cur = X
        h_fwd = h_bwd = None
        for fwd, bwd in self.layers:
            out_f, h_fwd = fwd.run(cur, mask, reverse=False)
            out_b, h_bwd = bwd.run(cur, mask, reverse=True)
            cur = np.concatenate([out_f, out_b], axis=-1)
        return np.concatenate([h_fwd, h_bwd], axis=-1)


class CharCNN:
    """AllenNLP character_encoding: char embedding (100) → per ngram
    size a conv1d with 50 filters + relu + max-pool, outputs
    concatenated (ontoemma_nn_all.json:31-42)."""

    def __init__(self, filters: dict[int, tuple[np.ndarray, np.ndarray]]):
        # filters[n] = (W (F, n*C), b (F,)) — conv expressed as a matmul
        # over flattened char windows
        self.filters = {
            int(n): (np.asarray(W, dtype=np.float64), np.asarray(b, dtype=np.float64))
            for n, (W, b) in filters.items()
        }
        self.chars = _EmbeddingCache(CHAR_DIM, "char100")

    def encode_token(self, token: str) -> np.ndarray:
        outs = []
        for n, (W, b) in sorted(self.filters.items()):
            padded = token if len(token) >= n else token + "\x00" * (n - len(token))
            E = np.stack([self.chars(ch) for ch in padded])  # (L, C)
            L = E.shape[0]
            windows = np.stack(
                [E[i:i + n].reshape(-1) for i in range(L - n + 1)]
            )  # (L-n+1, n*C)
            conv = _relu(windows @ W.T + b)  # (L-n+1, F)
            outs.append(conv.max(axis=0))
        return np.concatenate(outs)


class FeedForward:
    """AllenNLP FeedForward: list of (W (out,in), b, activation)."""

    def __init__(self, layers: list[tuple[np.ndarray, np.ndarray, str]]):
        self.layers = [
            (np.asarray(W, dtype=np.float64), np.asarray(b, dtype=np.float64), act)
            for W, b, act in layers
        ]

    def apply(self, X: np.ndarray) -> np.ndarray:
        for W, b, act in self.layers:
            X = X @ W.T + b
            if act == "relu":
                X = _relu(X)
            elif act != "linear":
                raise ValueError(f"unknown activation {act!r}")
        return X


class SiameseScorer:
    """The full OntoEmmaNN inference graph. Build with seeded() for
    deterministic weights, from_allennlp_state() for a reference-trained
    model's extracted arrays."""

    def __init__(
        self,
        char_cnn: CharCNN,
        name_encoder: BiLSTMEncoder,
        def_encoder: BiLSTMEncoder,
        siamese_ff: FeedForward,
        decision_ff: FeedForward,
        feature_names: list[str],
        words: _EmbeddingCache | None = None,
    ):
        self.char_cnn = char_cnn
        self.name_encoder = name_encoder
        self.def_encoder = def_encoder
        self.siamese_ff = siamese_ff
        self.decision_ff = decision_ff
        self.feature_names = list(feature_names)
        self.words = words or load_word_embeddings()
        self._token_cache: dict[str, np.ndarray] = {}

    # ---- embedding ----------------------------------------------------

    def _token_vec(self, token: str) -> np.ndarray:
        v = self._token_cache.get(token)
        if v is None:
            v = np.concatenate([self.words(token), self.char_cnn.encode_token(token)])
            self._token_cache[token] = v
        return v

    def _embed_batch(self, texts: list[list[str]], dim: int, with_chars: bool):
        """token lists → (B, T, dim) padded array + (B, T) mask."""
        B = len(texts)
        T = max((len(t) for t in texts), default=1) or 1
        X = np.zeros((B, T, dim))
        mask = np.zeros((B, T))
        for b, toks in enumerate(texts):
            for t, tok in enumerate(toks):
                X[b, t, :] = self._token_vec(tok) if with_chars else self.words(tok)
                mask[b, t] = 1.0
        return X, mask

    # ---- encoders -----------------------------------------------------

    def encode_names(self, names: list[str]) -> np.ndarray:
        toks = [_tokenize(n) for n in names]
        X, mask = self._embed_batch(toks, TOKEN_DIM, with_chars=True)
        return self.name_encoder.encode(X, mask)

    def encode_defs(self, defs: list[str]) -> np.ndarray:
        toks = [_tokenize(d) for d in defs]
        X, mask = self._embed_batch(toks, WORD_DIM, with_chars=False)
        return self.def_encoder.encode(X, mask)

    def _encode_alias_lists(self, alias_lists: list[list[str]]) -> list[np.ndarray]:
        """Encode every alias of every row in ONE flattened encoder
        batch (TimeDistributed(name_encoder) analog), regroup per row."""
        capped = [
            [a for a in (al or []) if len(a) <= MAX_ALIAS_LEN][:MAX_ALIASES] or [""]
            for al in alias_lists
        ]
        flat = [a for al in capped for a in al]
        enc = self.encode_names(flat)  # (sum_aliases, 200)
        out, pos = [], 0
        for al in capped:
            out.append(enc[pos:pos + len(al)])
            pos += len(al)
        return out

    @staticmethod
    def _max_sim(s_stack: list[np.ndarray], t_stack: list[np.ndarray]):
        """_get_max_sim (ontoemma_model.py:46-71): per row, the
        (s_alias, t_alias) pair with the max dot product."""
        best_s, best_t = [], []
        for S, T_ in zip(s_stack, t_stack):
            M = S @ T_.T
            sidx, tidx = np.unravel_index(np.argmax(M), M.shape)
            best_s.append(S[sidx])
            best_t.append(T_[tidx])
        return np.stack(best_s), np.stack(best_t)

    # ---- forward -------------------------------------------------------

    def forward(
        self,
        engineered: np.ndarray,
        s_names: list[str], t_names: list[str],
        s_aliases: list[list[str]], t_aliases: list[list[str]],
        s_defs: list[str], t_defs: list[str],
    ) -> np.ndarray:
        s_name_enc = self.encode_names(s_names)
        t_name_enc = self.encode_names(t_names)
        best_s, best_t = self._max_sim(
            self._encode_alias_lists(s_aliases), self._encode_alias_lists(t_aliases)
        )
        s_def_enc = self.encode_defs(s_defs)
        t_def_enc = self.encode_defs(t_defs)
        s_in = np.concatenate([s_name_enc, best_s, s_def_enc], axis=-1)
        t_in = np.concatenate([t_name_enc, best_t, t_def_enc], axis=-1)
        s_out = self.siamese_ff.apply(s_in)
        t_out = self.siamese_ff.apply(t_in)
        agg = np.concatenate([engineered, s_out, t_out], axis=-1)
        return _sigmoid(self.decision_ff.apply(agg)).reshape(-1)

    # ---- weight construction -------------------------------------------

    @classmethod
    def seeded(
        cls,
        feature_names: list[str],
        seed: int = 11,
        words: _EmbeddingCache | None = None,
    ) -> "SiameseScorer":
        """Deterministic random weights with the exact reference shapes
        (the stand-in for a trained archive; orthogonal-ish scaling so
        activations stay in range)."""
        rng = np.random.RandomState(seed)

        def lstm_pair(input_dim: int) -> tuple[LSTMLayer, LSTMLayer]:
            def one():
                s = 1.0 / np.sqrt(HIDDEN)
                return LSTMLayer(
                    rng.uniform(-s, s, size=(4 * HIDDEN, input_dim)),
                    rng.uniform(-s, s, size=(4 * HIDDEN, HIDDEN)),
                    rng.uniform(-s, s, size=4 * HIDDEN),
                    rng.uniform(-s, s, size=4 * HIDDEN),
                )
            return one(), one()

        char_cnn = CharCNN({
            n: (
                rng.normal(0.0, 1.0 / np.sqrt(n * CHAR_DIM), size=(CHAR_FILTERS, n * CHAR_DIM)),
                np.zeros(CHAR_FILTERS),
            )
            for n in CHAR_NGRAMS
        })
        name_enc = BiLSTMEncoder([lstm_pair(TOKEN_DIM), lstm_pair(2 * HIDDEN)])
        def_enc = BiLSTMEncoder([lstm_pair(WORD_DIM), lstm_pair(2 * HIDDEN)])

        def ff(dims: list[int], acts: list[str]) -> FeedForward:
            layers = []
            for i in range(len(dims) - 1):
                W = rng.normal(0.0, np.sqrt(2.0 / dims[i]), size=(dims[i + 1], dims[i]))
                layers.append((W, np.zeros(dims[i + 1]), acts[i]))
            return FeedForward(layers)

        siamese = ff(list(SIAMESE_DIMS), ["relu", "relu"])
        decision = ff([DECISION_IN, DECISION_IN, 1], ["relu", "linear"])
        return cls(char_cnn, name_enc, def_enc, siamese, decision,
                   feature_names, words=words)

    def to_allennlp_state(self) -> dict[str, list]:
        """Export the weights under the same AllenNLP parameter names
        from_allennlp_state reads (nested lists — JSON-serializable), so
        seeded models, offline-extracted reference models, and CLI -m
        blobs all round-trip through ONE format."""
        state: dict[str, list] = {}
        for prefix, enc in (("name_encoder._module", self.name_encoder),
                            ("definition_encoder._module", self.def_encoder)):
            for layer_idx, (fwd, bwd) in enumerate(enc.layers):
                for lstm, suffix in ((fwd, ""), (bwd, "_reverse")):
                    state[f"{prefix}.weight_ih_l{layer_idx}{suffix}"] = lstm.w_ih.tolist()
                    state[f"{prefix}.weight_hh_l{layer_idx}{suffix}"] = lstm.w_hh.tolist()
                    state[f"{prefix}.bias_ih_l{layer_idx}{suffix}"] = lstm.b_ih.tolist()
                    state[f"{prefix}.bias_hh_l{layer_idx}{suffix}"] = lstm.b_hh.tolist()
        cnn_prefix = "name_embedder.token_embedder_token_characters._encoder._module"
        for idx, n in enumerate(sorted(self.char_cnn.filters)):
            W, b = self.char_cnn.filters[n]
            # matmul layout (F, n*C) → torch conv1d layout (F, C, n)
            F_n = W.shape[0]
            state[f"{cnn_prefix}.conv_layer_{idx}.weight"] = (
                W.reshape(F_n, n, CHAR_DIM).transpose(0, 2, 1).tolist()
            )
            state[f"{cnn_prefix}.conv_layer_{idx}.bias"] = b.tolist()
        for prefix, ff in (("siamese_feedforward", self.siamese_ff),
                           ("decision_feedforward", self.decision_ff)):
            for i, (W, b, _act) in enumerate(ff.layers):
                state[f"{prefix}._linear_layers.{i}.weight"] = W.tolist()
                state[f"{prefix}._linear_layers.{i}.bias"] = b.tolist()
        return state

    @classmethod
    def from_allennlp_state(
        cls,
        state: dict[str, np.ndarray],
        feature_names: list[str],
        words: _EmbeddingCache | None = None,
    ) -> "SiameseScorer":
        """Map a reference-trained OntoEmmaNN state_dict (parameter name
        → numpy array; extract offline with
        `{k: v.numpy() for k, v in torch.load(...)['model'].items()}`)
        into this scorer. Parameter names follow AllenNLP's module tree
        for config/ontoemma_nn_all.json. Pass
        words=load_word_embeddings(path) with the model's pretrained
        table (weights300.txt.gz) — a trained state_dict over the
        default HASHED stand-in vectors produces meaningless scores."""

        def lstm(prefix: str) -> BiLSTMEncoder:
            layers = []
            for layer in range(2):
                pair = []
                for direction, suffix in ((0, ""), (1, "_reverse")):
                    pair.append(LSTMLayer(
                        state[f"{prefix}.weight_ih_l{layer}{suffix}"],
                        state[f"{prefix}.weight_hh_l{layer}{suffix}"],
                        state[f"{prefix}.bias_ih_l{layer}{suffix}"],
                        state[f"{prefix}.bias_hh_l{layer}{suffix}"],
                    ))
                layers.append((pair[0], pair[1]))
            return BiLSTMEncoder(layers)

        def ff(prefix: str, acts: list[str]) -> FeedForward:
            layers = []
            for i, act in enumerate(acts):
                layers.append((
                    state[f"{prefix}._linear_layers.{i}.weight"],
                    state[f"{prefix}._linear_layers.{i}.bias"],
                    act,
                ))
            return FeedForward(layers)

        cnn_prefix = "name_embedder.token_embedder_token_characters._encoder._module"
        filters = {}
        for idx, n in enumerate(CHAR_NGRAMS):
            W = state[f"{cnn_prefix}.conv_layer_{idx}.weight"]  # (F, C, n)
            b = state[f"{cnn_prefix}.conv_layer_{idx}.bias"]
            # torch conv1d weight (F, C, n) → matmul layout (F, n*C):
            # window flattening in encode_token is position-major
            filters[n] = (np.transpose(W, (0, 2, 1)).reshape(W.shape[0], -1), b)

        return cls(
            CharCNN(filters),
            lstm("name_encoder._module"),
            lstm("definition_encoder._module"),
            ff("siamese_feedforward", ["relu", "relu"]),
            ff("decision_feedforward", ["relu", "linear"]),
            feature_names,
            words=words,
        )


def load_allennlp_archive(
    path: str,
    feature_names: list[str],
    words: _EmbeddingCache | None = None,
) -> "SiameseScorer":
    """Load a reference-trained checkpoint from disk through the numpy
    forward — the torch-free close of the model.tar.gz seam
    (reference training: emma/OntoEmma.py:262-283 writes an AllenNLP
    archive; this engine only ever needs INFERENCE over its weights).

    Accepted layouts, probed by suffix then content:
      * ``.npz``          — numpy archive of the state_dict, the
        documented offline export:
        ``np.savez(out, **{k: v.numpy() for k, v in
        torch.load(weights_th, map_location='cpu').items()})``
      * ``.json`` / ``.json.gz`` — nested-list state, exactly what
        to_allennlp_state() writes (CLI -m blobs round-trip here)
      * ``.tar.gz`` / ``.tgz`` — AllenNLP archive layout; the member
        ``weights.npz`` or ``weights.json[.gz]`` is read (the torch-free
        re-pack of weights.th). A tar whose only weights are a real
        ``weights.th`` raises with the one-line export command above —
        torch pickles are unreadable without torch, and silently
        guessing weights would produce meaningless scores.

    Parameter names follow AllenNLP's module tree for
    config/ontoemma_nn_all.json (see from_allennlp_state). As there,
    pass words=load_word_embeddings(...) for a trained model.
    """
    import gzip
    import io
    import json as _json
    import tarfile

    def _from_npz_bytes(b: bytes) -> dict[str, np.ndarray]:
        with np.load(io.BytesIO(b)) as z:
            return {k: np.asarray(z[k], dtype=np.float64) for k in z.files}

    def _from_json_bytes(b: bytes) -> dict[str, np.ndarray]:
        return {k: np.asarray(v, dtype=np.float64)
                for k, v in _json.loads(b.decode("utf-8")).items()}

    if path.endswith(".npz"):
        with open(path, "rb") as f:
            state = _from_npz_bytes(f.read())
    elif path.endswith(".json") or path.endswith(".json.gz"):
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rb") as f:
            state = _from_json_bytes(f.read())
    elif path.endswith((".tar.gz", ".tgz", ".tar")):
        state = None
        with tarfile.open(path, "r:*") as tar:
            members = {m.name.split("/")[-1]: m for m in tar.getmembers()
                       if m.isfile()}
            for name, loader in (("weights.npz", _from_npz_bytes),
                                 ("weights.json", _from_json_bytes),
                                 ("weights.json.gz", None)):
                if name in members:
                    b = tar.extractfile(members[name]).read()
                    if name.endswith(".gz"):
                        b, loader = gzip.decompress(b), _from_json_bytes
                    state = loader(b)
                    break
            if state is None:
                th = [n for n in members if n.endswith(".th")]
                raise ValueError(
                    f"{path}: no torch-free weights member found "
                    f"(has {sorted(members)}); export {th or 'weights.th'} "
                    "offline with  np.savez('weights.npz', **{k: v.numpy() "
                    "for k, v in torch.load(p, map_location='cpu').items()})"
                    "  and re-pack."
                )
    else:
        raise ValueError(
            f"{path}: unrecognized checkpoint suffix "
            "(.npz, .json[.gz], .tar[.gz] supported)"
        )
    return SiameseScorer.from_allennlp_state(state, feature_names, words=words)


def score_pairs_siamese(pairs: DataFrame, model: SiameseScorer) -> DataFrame:
    """Arrow-batched inference over a pair DF carrying the text fields
    and the 32 engineered feature columns:

      (s_id, t_id, s_name, t_name, s_aliases, t_aliases, s_def, t_def,
       <feature_names...>)

    Iterator mapInPandas: the weight arrays are realized once per
    partition; each Arrow batch runs the vectorized forward pass
    (reference batching: emma/OntoEmma.py:737,766-797, batch_size=128 —
    here the Arrow batch size plays that role)."""
    names = model.feature_names
    # ship weights via closure (broadcast-equivalent for local;
    # SparkContext.broadcast is the cluster seam)
    state = model

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = state  # realized once per partition
        for pdf in batches:
            if len(pdf) == 0:
                continue
            eng = pdf[names].to_numpy(dtype=np.float64)
            scores = m.forward(
                eng,
                pdf["s_name"].fillna("").tolist(),
                pdf["t_name"].fillna("").tolist(),
                [list(a) if a is not None else [] for a in pdf["s_aliases"]],
                [list(a) if a is not None else [] for a in pdf["t_aliases"]],
                pdf["s_def"].fillna("").tolist(),
                pdf["t_def"].fillna("").tolist(),
            )
            yield pd.DataFrame(
                {"s_id": pdf["s_id"], "t_id": pdf["t_id"], "score": scores}
            )

    cols = ["s_id", "t_id", "s_name", "t_name", "s_aliases", "t_aliases",
            "s_def", "t_def", *names]
    return pairs.select(*cols).mapInPandas(
        run, schema="s_id string, t_id string, score double"
    )
