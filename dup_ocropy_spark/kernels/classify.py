"""Per-block content-vs-boilerplate classification (reference L1-L12 analog).

The reference runs a bidirectional LSTM over each text line and CTC-decodes
runs of non-blank frames into characters (``/root/reference/ocrolib/
lstm.py:879-884`` ``SeqRecognizer.predictString``, ``:741-753``
``translate_back``). The graft's per-block classifier plays the same role:
block features -> score in [0,1] -> threshold decode -> label.

Scorers (``ExtractConfig.classifier``): ``rule`` — deterministic
heuristics, the ground-truth oracle path; ``logistic`` — a numpy logistic
layer over the features (``ocrolib/lstm.py:243-300`` ``Logreg`` analog);
``logistic_ctx`` — the same layer over each block plus its in-document
neighbors (L6); ``lstm`` — TinyBiLSTM over each document's blocks.

``classify_blocks`` is the one entry point: the Spark stage, the
single-turn API and the training jobs call it once per batch, on the
batch's ``BlockTable``, with every feature computed by ``pyarrow.compute``
kernels over the whole visible-text column at once — the "fully
vectorized inside each item" design the reference states at
``ocrolib/lstm.py:8-12``, moved to the Arrow-batch boundary.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.kernels.segment import BlockTable


# Tiny function-word list for the stopword-ratio feature (language-ID
# heuristics use a larger table in operators/textstats.py).
STOPWORDS = frozenset(
    """the a an and or of to in is are was were be been it this that for with
    as on at by from not but if then than so we you they he she i""".split()
)

FEATURE_NAMES = (
    "log_len", "link_density", "boiler", "stopword_ratio",
    "punct_per_word", "digit_ratio", "mean_word_len", "is_heading",
)


_HEADING_KINDS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6", "title"))
_STOPWORD_ARRAY = pa.array(sorted(STOPWORDS), type=pa.string())
_DOTTED_CAPITAL_I = "\u0130".encode()

# Block label codes of ``BlockTable.label``.
CONTENT, BOILERPLATE, NOISE = 1, 0, -1


def _block_features(table: BlockTable) -> tuple[np.ndarray, np.ndarray]:
    """-> (feature matrix, stripped visible length per block).

    Every counter is one ``pyarrow.compute`` kernel over the batch's
    visible-text column, never a per-block Python loop. Each equals the
    Python string operation it replaces (``strip``/``split``/``len``,
    ``lower`` for the stopword match; tests/test_arrow_text_parity.py
    checks every code point), and every ratio is one IEEE division of
    the same two integers, so the matrix is bit-identical to a per-block
    ``str`` computation."""
    n = len(table)
    vis = table.visible
    text = pc.utf8_trim_whitespace(vis)
    nt = pc.utf8_length(text).to_numpy()
    nvfull = pc.utf8_length(vis).to_numpy()
    # split the TRIMMED text: leading/trailing whitespace would yield
    # empty edge tokens (Python's split() yields none)
    words = pc.utf8_split_whitespace(text)
    nw = np.maximum(pc.list_value_length(words).to_numpy(), 1)
    flat = pc.list_flatten(words)
    parent = pc.list_parent_indices(words).to_numpy()
    # ascii_lower matches lower() here: only U+212A lowers a non-ASCII
    # char to ASCII ('k'), and no stopword contains a 'k'
    stop = pc.is_in(pc.ascii_lower(flat), value_set=_STOPWORD_ARRAY)
    nstop = np.bincount(parent[stop.to_numpy(zero_copy_only=False)], minlength=n)
    # mean_word_len counts the LOWERED words: U+0130 lowers to two code
    # points, the only change of length under lower()
    wchars = np.bincount(parent, weights=pc.utf8_length(flat).to_numpy(), minlength=n)
    if n and _DOTTED_CAPITAL_I in text.buffers()[2].to_pybytes():  # rare: one memmem
        wchars += pc.count_substring(text, "\u0130").to_numpy()
    # one regex count per class: each of these ASCII chars is one code point
    npunct = pc.count_substring_regex(text, "[.,;:!?]").to_numpy()
    ndig = np.zeros(n, dtype=np.int64)
    has_digit = pc.match_substring_regex(text, "[0-9]").to_numpy(zero_copy_only=False)
    if has_digit.any():
        ndig[has_digit] = pc.count_substring_regex(text.filter(pa.array(has_digit)),
                                                   "[0-9]").to_numpy()
    X = np.zeros((n, len(FEATURE_NAMES)), dtype=np.float64)
    X[:, 0] = np.log1p(nt.astype(np.float64))
    np.divide(table.link_chars, nvfull, out=X[:, 1], where=nvfull > 0)
    X[:, 2] = table.boiler
    X[:, 3] = nstop / nw
    X[:, 4] = npunct / nw
    X[:, 5] = ndig / np.maximum(nt, 1)
    X[:, 6] = wchars / nw
    X[:, 7] = np.fromiter(map(_HEADING_KINDS.__contains__, table.kind), dtype=bool,
                          count=n)
    return X, nt


def block_features(table: BlockTable) -> np.ndarray:
    """(n_blocks, n_features) float64 feature matrix (L1/L2 analog:
    per-block normalization into a fixed-width feature frame)."""
    return _block_features(table)[0]


# Hand-set logistic weights over FEATURE_NAMES (+bias). Chosen so the
# decision agrees with the rule scorer on the synthetic grammar; the
# training job (operators/train.py) can refit them.
LOGISTIC_WEIGHTS = np.array(
    [0.9,    # log_len: longer -> more content-like
     -6.0,   # link_density
     -8.0,   # boiler container
     2.5,    # stopword_ratio: prose marker
     0.8,    # punct_per_word
     -1.5,   # digit_ratio
     0.2,    # mean_word_len
     1.0],   # heading
    dtype=np.float64,
)
LOGISTIC_BIAS = -2.2


def logistic_scores(X: np.ndarray, weights: np.ndarray | None = None,
                    bias: float | None = None) -> np.ndarray:
    """Sigmoid(X @ w + b) — the Logreg layer (L7).

    The dot product accumulates per-feature terms in fixed column order
    (not BLAS gemv, whose summation order varies with matrix shape), so a
    block scores bit-identically whatever else shares its matrix — the
    extraction output must not depend on where Arrow batch boundaries fall
    (partition invariance)."""
    w = LOGISTIC_WEIGHTS if weights is None else weights
    b = LOGISTIC_BIAS if bias is None else bias
    if len(w) != X.shape[1]:  # the old BLAS `X @ w` raised on mismatch;
        # the explicit loop would silently truncate — keep the loud error
        raise ValueError(f"weights length {len(w)} != n_features {X.shape[1]}")
    z = X[:, 0] * w[0]
    for j in range(1, X.shape[1]):
        z += X[:, j] * w[j]
    z += b
    return 1.0 / (1.0 + np.exp(-z))


def context_features(X: np.ndarray, doc_lens: list[int] | None = None) -> np.ndarray:
    """Bidirectional block context (reference L6 BIDILSTM analog): each
    block sees its own features plus its predecessor's and successor's
    (zeros at document edges) — the 1-D forward+backward pass over the
    block sequence, without recurrent state.

    ``X`` may stack several documents' blocks; ``doc_lens`` gives their
    block counts in order (default: one document), and no block sees
    across a document edge."""
    n, d = X.shape
    prev_x = np.zeros_like(X)
    next_x = np.zeros_like(X)
    if n > 1:
        prev_x[1:] = X[:-1]
        next_x[:-1] = X[1:]
        if doc_lens is not None:
            edges = np.cumsum(doc_lens)[:-1]
            edges = edges[(edges > 0) & (edges < n)]
            prev_x[edges] = 0.0
            next_x[edges - 1] = 0.0
    return np.hstack([X, prev_x, next_x])


CTX_FEATURE_NAMES = tuple(
    [*FEATURE_NAMES,
     *[f"prev_{n}" for n in FEATURE_NAMES],
     *[f"next_{n}" for n in FEATURE_NAMES]]
)

# untrained default: own-feature weights, neighbors zero (== plain logistic)
CTX_WEIGHTS = np.concatenate([LOGISTIC_WEIGHTS, np.zeros(2 * len(FEATURE_NAMES))])

# one reconstructed-model cache per worker: flat weights -> TinyBiLSTM
# (rebuilt once per executor process, exactly the load-once-per-worker
# pattern of the reference's model inheritance across fork)
_LSTM_CACHE: dict[bytes, object] = {}


def _lstm_scores(X: np.ndarray, flat: np.ndarray | None) -> np.ndarray:
    from dup_ocropy_spark.kernels.lstm import TinyBiLSTM

    if flat is None:
        raise ValueError("classifier='lstm' requires trained weights "
                         "(ExtractConfig.weights from a saved model)")
    key = np.asarray(flat).tobytes()
    model = _LSTM_CACHE.get(key)
    if model is None:
        model = TinyBiLSTM.from_flat(np.asarray(flat), n_in=X.shape[1])
        _LSTM_CACHE.clear()
        _LSTM_CACHE[key] = model
    return model.scores(X)


def classify_blocks(table: BlockTable,
                    config: ExtractConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Label every block of a batch's ``BlockTable`` content/boilerplate/
    noise (``table.label``, ``table.score``) and return its
    (n_blocks, n_features) ``block_features`` matrix.

    One feature pass over all documents of the batch. ``rule`` and
    ``logistic`` score the flat matrix; ``logistic_ctx`` adds each
    block's neighbors within its own document; ``lstm`` runs the
    recurrent model over each document's slice. Decode rule (L8
    ``translate_back`` analog): score is thresholded at
    ``config.content_threshold``; noise blocks (below ``noise_min_chars``)
    are the speckle class and never content (P5).
    """
    X, nt = _block_features(table)
    w = None if config.weights is None else np.asarray(config.weights, dtype=np.float64)
    bias = config.bias
    # blocks per document (rows are contiguous in the table)
    cuts = np.flatnonzero(np.diff(table.row)) + 1
    if not len(X):
        scores = np.zeros(0, dtype=np.float64)
    elif config.classifier == "lstm":
        scores = np.concatenate([_lstm_scores(x, w) for x in np.split(X, cuts)])
    elif config.classifier == "logistic_ctx":
        if w is None:
            w, bias = CTX_WEIGHTS, LOGISTIC_BIAS
        scores = logistic_scores(context_features(X, np.diff(cuts, prepend=0,
                                                             append=len(X))),
                                 w, bias)
    else:
        scores = logistic_scores(X, w, bias)
    if config.classifier in ("logistic", "logistic_ctx", "lstm"):
        content = scores >= config.content_threshold
    else:  # rule mode: deterministic ground truth by construction
        content = ~(table.boiler | (X[:, 1] > config.max_link_density))
    table.label = np.where(nt < config.noise_min_chars, NOISE,
                           np.where(content, CONTENT, BOILERPLATE)).astype(np.int8)
    table.score = scores
    return X
