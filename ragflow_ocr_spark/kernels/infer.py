"""Model session factory — executor-side lazy singleton.

Mirrors the reference's process-global ``loaded_models`` cache
(``/root/reference/ocr/ocr.py:34, 69-145``): one session per model per
Python worker process, built on first use and reused across Arrow
batches/tasks. On a cluster the model *bytes* arrive via
``sc.broadcast`` (pass the Broadcast itself — ``get_det_net`` resolves
``.value`` worker-side) and are routed by format:

- ONNX protobuf        → ``OrtNet``: a real onnxruntime
  InferenceSession with the reference's session options (no CPU memory
  arena, sequential execution, intra/inter-op threads = 2/2;
  ``ocr/ocr.py:115-119``), arena-shrink run options (``ocr.py:122-141``),
  contiguous float32 input, and the 5 s retry sleep restored
  (``ocr.py:343-350``). Gated on ``import onnxruntime`` — absent in this
  sandbox, so the constructor raises the documented seam error.
- ``NPZLOGITS1`` + npz → ``ReplayNet``: recorded logits keyed by input
  digest, replayed through the same ``run()`` surface — how recorded
  real-model outputs (det prob maps, rec logits) drive
  DBPostProcess/CTC byte-exactly without the runtime. Fixtures are
  recorded with ``RecordingNet`` (see ``tools/gen_replay_fixture.py``).

No model bytes (``model=None``) → the deterministic in-process stub
networks (``stubnet.py``).
"""

from __future__ import annotations

import hashlib
import io
import time
from typing import Protocol

import numpy as np


class Net(Protocol):
    def run(self, x: np.ndarray) -> np.ndarray: ...


_CACHE: dict[str, Net] = {}

# Recorded-logits replay format: b"NPZLOGITS1" + np.savez archive of
# {"o_<input-digest>": output_array}.
REPLAY_MAGIC = b"NPZLOGITS1"


class OrtNet:
    """onnxruntime session wrapper with reference session semantics.

    Parity points (``/root/reference/ocr/ocr.py:115-141``): CPU memory
    arena disabled, sequential execution mode, 2/2 intra/inter-op
    threads (bump to ``spark.task.cpus`` when tasks own more cores —
    more would oversubscribe concurrent Spark tasks), arena-shrinkage
    run-config entry, CPUExecutionProvider (the CUDA branch of
    ``load_model`` needs GPU executors; same options apply). Inputs are
    made contiguous float32 — det_preprocess hands back a strided CHW
    view that ort rejects.
    """

    retry_sleep_s = 5.0  # reference sleeps 5 s between attempts (ocr.py:349)

    def __init__(
        self, model_bytes: bytes, intra_threads: int = 2, inter_threads: int = 2
    ):
        try:
            import onnxruntime as ort
        except ImportError as e:
            raise NotImplementedError(
                "model bytes look like ONNX protobuf but onnxruntime is "
                "not installed in this environment; install it (or ship "
                "it with --py-files/conda env) to run real models"
            ) from e
        opts = ort.SessionOptions()
        opts.enable_cpu_mem_arena = False
        opts.execution_mode = ort.ExecutionMode.ORT_SEQUENTIAL
        opts.intra_op_num_threads = intra_threads
        opts.inter_op_num_threads = inter_threads
        self._sess = ort.InferenceSession(
            model_bytes, sess_options=opts, providers=["CPUExecutionProvider"]
        )
        self._run_options = ort.RunOptions()
        self._run_options.add_run_config_entry(
            "memory.enable_memory_arena_shrinkage", "cpu"
        )
        self._input_name = self._sess.get_inputs()[0].name

    def run(self, x: np.ndarray) -> np.ndarray:
        x = np.ascontiguousarray(x, dtype=np.float32)
        return self._sess.run(None, {self._input_name: x}, self._run_options)[0]


def _input_digest(x: np.ndarray) -> str:
    """Content digest of one net input: shape + contiguous f32 bytes.
    Deterministic across processes (preprocessing is integer/float32
    arithmetic with a fixed operation order)."""
    c = np.ascontiguousarray(x, dtype=np.float32)
    h = hashlib.sha1(repr(c.shape).encode())
    h.update(c.tobytes())
    return h.hexdigest()


class ReplayNet:
    """Replays recorded (input digest → output) pairs through the Net
    surface. The offline stand-in for a real-model session: record det
    prob maps / rec logits once (RecordingNet), ship the npz, and the
    whole postprocess chain (DBPostProcess, CTC decode) runs on
    real-shaped model output with no runtime dependency."""

    def __init__(self, npz_bytes: bytes):
        with np.load(io.BytesIO(npz_bytes), allow_pickle=False) as z:
            self._outputs = {k: z[k] for k in z.files}

    def run(self, x: np.ndarray) -> np.ndarray:
        key = f"o_{_input_digest(x)}"
        out = self._outputs.get(key)
        if out is None:
            raise RuntimeError(
                f"no recorded logits for input digest {key[2:12]}… "
                f"(shape {tuple(x.shape)}); re-record the fixture for "
                "this input"
            )
        return out


class RecordingNet:
    """Wraps a live session and records every (input, output) pair —
    the fixture-authoring side of ReplayNet."""

    def __init__(self, inner: Net):
        self.inner = inner
        self.pairs: list[tuple[np.ndarray, np.ndarray]] = []

    def run(self, x: np.ndarray) -> np.ndarray:
        y = self.inner.run(x)
        self.pairs.append((np.ascontiguousarray(x, dtype=np.float32), y))
        return y

    def replay_bytes(self) -> bytes:
        return record_replay_bytes(self.pairs)


def record_replay_bytes(pairs: list[tuple[np.ndarray, np.ndarray]]) -> bytes:
    """Serialize recorded (input, output) pairs to REPLAY_MAGIC+npz."""
    arrays = {f"o_{_input_digest(x)}": y for x, y in pairs}
    buf = io.BytesIO()
    np.savez_compressed(buf, **arrays)
    return REPLAY_MAGIC + buf.getvalue()


def _session_from_bytes(model_bytes: bytes) -> Net:
    if model_bytes.startswith(REPLAY_MAGIC):
        return ReplayNet(model_bytes[len(REPLAY_MAGIC) :])
    # anything else is treated as ONNX protobuf — the reference's only
    # model format (ocr/ocr.py:70: "<name>.onnx"). onnxruntime is the
    # fast path; without it, the numpy reference executor
    # (kernels/onnx_np.py) runs core-op-subset graphs for real, so the
    # seam is now op-granular instead of format-granular.
    try:
        return OrtNet(model_bytes)
    except NotImplementedError:
        from ragflow_ocr_spark.kernels.onnx_np import NumpyOnnxNet

        return NumpyOnnxNet(model_bytes)


def _resolve_bytes(model) -> bytes | None:
    """Accept raw bytes OR a pyspark Broadcast (resolved worker-side) —
    broadcast is the production transport: bytes ship once per executor
    instead of once per task closure."""
    if model is None or isinstance(model, (bytes, bytearray)):
        return None if model is None else bytes(model)
    value = getattr(model, "value", None)
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    raise TypeError(f"model must be bytes or a Broadcast of bytes, got {type(model)!r}")


def _get_net(kind: str, model) -> Net:
    """Lazy per-worker session (cache key mirrors the reference's
    (model_path, device_id) key, ``ocr/ocr.py:70-77`` — here the kind,
    plus the content hash of the broadcast bytes when there are any)."""
    model_bytes = _resolve_bytes(model)
    if model_bytes is None:
        key = kind
    else:
        key = f"{kind}:{hashlib.md5(model_bytes).hexdigest()}"
    if key not in _CACHE:
        if model_bytes is None:
            from ragflow_ocr_spark.kernels.stubnet import DetStubNet, RecStubNet

            _CACHE[key] = DetStubNet() if kind == "det" else RecStubNet()
        else:
            _CACHE[key] = _session_from_bytes(model_bytes)
    return _CACHE[key]


def get_det_net(model=None) -> Net:
    """Lazy per-worker detection session (see :func:`_get_net`)."""
    return _get_net("det", model)


def get_rec_net(model=None) -> Net:
    """Lazy per-worker recognition session (see :func:`_get_net`)."""
    return _get_net("rec", model)


def run_with_retry(net: Net, x: np.ndarray, attempts: int = 4) -> np.ndarray:
    """Inference retry loop — reference retries ≤4 times, sleeping 5 s
    between attempts (``/root/reference/ocr/ocr.py:343-350``). The sleep
    comes from the session (``retry_sleep_s``): real ort sessions
    restore the reference's 5 s backoff; in-process stub/replay nets
    have nothing transient, so they retry immediately."""
    last: Exception | None = None
    sleep_s = float(getattr(net, "retry_sleep_s", 0.0))
    for attempt in range(attempts):
        try:
            return net.run(x)
        except Exception as e:
            last = e
            if sleep_s and attempt < attempts - 1:
                time.sleep(sleep_s)
    raise RuntimeError(f"inference failed after {attempts} attempts") from last
