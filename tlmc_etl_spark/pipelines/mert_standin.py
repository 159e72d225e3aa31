"""MERT-shaped audio embedding pipeline with a CPU stand-in model.

The reference's embedding stage (mert_batched_uuid.py:269-325) is:
decode → 6 s / 2 s-overlap chunks → DataLoader batches of 64 → MERT
forward pass (last-4-layer mean) → L2-normalize → per-track stacked
chunk tensor written to disk → journal record AFTER the write.

Everything around the model is data plumbing Spark expresses directly;
the model itself needs a GPU. This module keeps the ENTIRE pipeline
shape — the same chunking contract, the same batch-of-64 collate loop,
the same normalize-then-stack-then-journal ordering — but slots in a
deterministic small-kernel featurizer (log-mel band energies via numpy
rFFT) where the MERT forward pass goes, so the decode → batch → infer →
journal path is executable and testable end-to-end in a GPU-less
container. Swapping the real model back is one function: replace
`mel_embedding_batch` with an applyInPandas that feeds the same
(batch, samples) matrices to MERT on GPU executors — nothing upstream
or downstream changes.

Scale shape: one mapInPandas pass over the audio table (payloads stream
through Arrow batches; nothing collects); chunking is per-row numpy;
the batch collate packs ragged chunks into fixed-size matrices exactly
like the reference's collate_fn; the journal append is the repo's
standard save-then-record parquet journal (streaming/journal.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# MERT-v1's input contract (mert_batched_uuid.py constants): 24 kHz mono,
# 6-second chunks advancing by 4 s (2 s overlap), batches of 64.
SAMPLE_RATE = 24_000
CHUNK_SECONDS = 6.0
HOP_SECONDS = 4.0
BATCH_SIZE = 64
N_MELS = 16


def chunk_starts(n_samples: int, window: int, hop: int) -> range:
    """Start sample of every window of the 6 s / 4 s chunk grid over
    `n_samples` (window and hop in samples at the stream's rate): starts
    advance by `hop` while a full window fits, plus one final partial
    window when the last full one stops short of the end — a truncated
    tail would silently drop up to window - hop samples of every track.
    An empty stream still gets one (all-padding) window."""
    base = max(n_samples - window, 0) // hop + 1
    n = base + (1 if (base - 1) * hop + window < n_samples else 0)
    return range(0, n * hop, hop)


def synth_tone_wav(freq: float, seconds: float, sr: int = SAMPLE_RATE) -> bytes:
    """Deterministic 16-bit mono sine WAV — the in-container stand-in
    for real audio payloads (tests, demo queries, fixtures)."""
    import io
    import wave

    t = np.arange(int(seconds * sr)) / sr
    x = 0.5 * np.sin(2 * np.pi * freq * t)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes((x * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def synth_tone_flac(freq: float, seconds: float, sr: int = SAMPLE_RATE) -> bytes:
    """Deterministic 16-bit mono sine as a REAL FLAC stream
    (operators/flac.py) — the lossless-corpus twin of synth_tone_wav,
    so the embedding lane exercises an actual codec path end to end
    (the reference's input is FLAC via soundfile/ffmpeg,
    Experimental/vector_search/loader.py:113-146)."""
    from tlmc_etl_spark.operators.flac import encode_flac

    t = np.arange(int(seconds * sr)) / sr
    x = (0.5 * np.sin(2 * np.pi * freq * t) * 32767).astype(np.int64)
    return encode_flac(x, sr, block_size=4096, mode="lpc", lpc_order=8)


def decode_audio_payload(payload: bytes) -> tuple[np.ndarray, int]:
    """Payload bytes → (float64 mono PCM in [-1, 1], sample rate):
    magic-dispatched over the in-container codec lanes — FLAC through
    the exact RFC 9639 decoder, RIFF/WAVE through stdlib PCM parse."""
    if payload[:4] == b"fLaC":
        from tlmc_etl_spark.operators.flac import flac_decode_pcm

        return flac_decode_pcm(payload)
    if payload[:4] == b"RIFF":
        return parse_wav(payload)
    raise ValueError("audio payload is neither FLAC nor RIFF/WAVE")


def parse_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE payload → (float64 mono samples in [-1, 1], rate).

    A direct RIFF chunk walk (struct + numpy; round 12 replaced the
    stdlib `wave` module, which rejects IEEE-float WAVs and 24-bit
    widths real masters carry): integer PCM at 8/16/24/32 bits (format
    tag 1), IEEE float at 32/64 bits (tag 3 — the format the
    reference's soundfile/ffmpeg leg reads transparently), and
    WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE, real format from the SubFormat
    GUID's leading code). Integer-vs-float comes from the format TAG,
    never an amplitude heuristic — a quietly-mastered int32 track must
    not be misread as float. Multi-channel input is mean-downmixed to
    mono — the stand-in for the reference's `ffmpeg -ac 1` decode leg.
    ValueError on torn chunks, short frames, or unsupported tags."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("wav: not a RIFF/WAVE payload")
    pos = 12
    fmt = data = None
    while pos + 8 <= len(payload) and (fmt is None or data is None):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        body = payload[pos : pos + size]
        if len(body) < size:
            raise ValueError("wav: chunk overruns the payload")
        pos += size + (size & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt or data chunk")
    if len(fmt) < 16:
        raise ValueError("wav: fmt chunk too short")
    tag, n_ch, sr, _brate, _balign, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if tag == 0xFFFE:  # extensible: real format leads the SubFormat GUID
        if len(fmt) < 26:
            raise ValueError("wav: extensible fmt chunk too short")
        tag = struct.unpack_from("<H", fmt, 24)[0]
    if n_ch == 0 or sr == 0:
        raise ValueError("wav: zero channels or sample rate")
    frame = n_ch * (bits // 8)
    if bits % 8 or frame == 0 or len(data) % frame:
        raise ValueError("wav: data is not a whole number of frames")
    if tag == 1:  # integer PCM
        if bits == 8:
            x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
                 - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            tri = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3).astype(
                np.int64
            )
            v = tri[:, 0] | (tri[:, 1] << 8) | (tri[:, 2] << 16)
            v -= (v & 0x800000) << 1
            x = v.astype(np.float64) / 8388608.0
        elif bits == 32:
            x = np.frombuffer(data, dtype="<i4").astype(
                np.float64
            ) / 2147483648.0
        else:
            raise ValueError(f"wav: unsupported PCM bit depth {bits}")
    elif tag == 3:  # IEEE float
        if bits == 32:
            x = np.frombuffer(data, dtype="<f4").astype(np.float64)
        elif bits == 64:
            x = np.frombuffer(data, dtype="<f8").astype(np.float64)
        else:
            raise ValueError(f"wav: unsupported float bit depth {bits}")
    else:
        raise ValueError(f"wav: unsupported format tag {tag}")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x, sr


def chunk_samples(x: np.ndarray, sr: int) -> np.ndarray:
    """(n_chunks, chunk_len) matrix of the chunk_starts windows; the final
    partial window is zero-padded to full length (the reference's
    processor pads batches)."""
    chunk_len = int(round(CHUNK_SECONDS * sr))
    starts = chunk_starts(len(x), chunk_len, int(round(HOP_SECONDS * sr)))
    out = np.zeros((len(starts), chunk_len))
    for i, s in enumerate(starts):
        seg = x[s : s + chunk_len]
        out[i, : len(seg)] = seg
    return out


def _mel_filterbank(sr: int, n_fft: int, n_mels: int) -> np.ndarray:
    """(n_mels, n_fft//2 + 1) triangular filterbank on the HTK mel scale
    (mel = 2595 log10(1 + f/700) — public formula)."""
    f_max = sr / 2.0
    mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)
    inv = lambda m: 700.0 * (10.0 ** (m / 2595.0) - 1.0)
    pts = inv(np.linspace(mel(0.0), mel(f_max), n_mels + 2))
    bins = np.floor((n_fft + 1) * pts / sr).astype(int)
    fb = np.zeros((n_mels, n_fft // 2 + 1))
    for m in range(1, n_mels + 1):
        lo, ctr, hi = bins[m - 1], bins[m], bins[m + 1]
        for k in range(lo, ctr):
            if ctr > lo:
                fb[m - 1, k] = (k - lo) / (ctr - lo)
        for k in range(ctr, hi):
            if hi > ctr:
                fb[m - 1, k] = (hi - k) / (hi - ctr)
    return fb


def mel_embedding_batch(
    chunks: np.ndarray, sr: int, n_mels: int = N_MELS
) -> np.ndarray:
    """The stand-in forward pass: (batch, samples) → (batch, n_mels)
    L2-normalized log-mel band energies, one vectorized rFFT per batch —
    the same (batch in, [B, C] out, normalize at the end) contract as
    the MERT call it replaces (mert_batched_uuid.py:282-292). Replace
    THIS function with the real model on GPU executors; everything else
    in the pipeline is model-agnostic."""
    n_fft = chunks.shape[1]
    spec = np.abs(np.fft.rfft(chunks, axis=1)) ** 2
    fb = _mel_filterbank(sr, n_fft, n_mels)
    energies = np.log1p(spec @ fb.T)
    norms = np.linalg.norm(energies, axis=1, keepdims=True)
    return energies / np.where(norms > 0, norms, 1.0)


def audio_chunk_embeddings(
    audio: DataFrame,
    id_col: str = "track_id",
    payload_col: str = "payload",
    n_mels: int = N_MELS,
    batch_size: int = BATCH_SIZE,
) -> DataFrame:
    """(track, payload) → (track, chunk_idx, n_chunks, embedding).

    One mapInPandas pass. Chunks are COLLATED into fixed `batch_size`
    inference batches across track boundaries — the reference's
    DataLoader shape, where a batch of 64 chunks typically spans
    several files and per-track results are regrouped after the forward
    pass (mert_batched_uuid.py:269-325). The collate buffer is PER
    SAMPLE RATE (each inference batch is single-rate, so every chunk is
    featurized against its own rate's filterbank, independent of how
    rows landed in partitions) and is FLUSHED as soon as batch_size
    chunks accumulate — peak memory is one inference batch plus one
    in-flight decode, not the whole Arrow batch's decoded audio.
    Cross-rate embeddings are not mutually comparable; the MERT
    contract resamples to 24 kHz upstream, and this featurizer keeps
    per-rate correctness either way. Chunk counts and indices ride
    along so the downstream stack/write needs no second pass.
    """

    def run(batches):
        # per-rate collate buffers: sr -> ([(track, ci, n_chunks)], [chunk])
        bufs: dict[int, tuple[list, list]] = {}

        def flush(sr: int) -> pd.DataFrame:
            metas, mats = bufs.pop(sr)
            width = max(len(v) for v in mats)
            M = np.zeros((len(mats), width))
            for i, v in enumerate(mats):
                M[i, : len(v)] = v
            E = mel_embedding_batch(M, sr, n_mels)
            return pd.DataFrame(
                [(t, ci, nc, E[i].tolist()) for i, (t, ci, nc) in enumerate(metas)],
                columns=["track_id", "chunk_idx", "n_chunks", "embedding"],
            )

        for pdf in batches:
            for tid, payload in zip(pdf[id_col], pdf[payload_col]):
                x, sr = decode_audio_payload(bytes(payload))
                m = chunk_samples(x, sr)
                metas, mats = bufs.setdefault(sr, ([], []))
                for ci in range(m.shape[0]):
                    metas.append((tid, ci, m.shape[0]))
                    mats.append(m[ci])
                    if len(mats) >= batch_size:
                        yield flush(sr)
                        metas, mats = bufs.setdefault(sr, ([], []))
        for sr in sorted(bufs):
            if bufs[sr][1]:
                yield flush(sr)
            else:
                bufs.pop(sr)

    return audio.mapInPandas(
        run,
        schema="track_id string, chunk_idx int, n_chunks int, "
        "embedding array<double>",
    )


def run_journaled_embedding_pass(
    spark: SparkSession,
    audio: DataFrame,
    out_dir: str,
    journal_dir: str,
    id_col: str = "track_id",
    payload_col: str = "payload",
) -> int:
    """One incremental embedding run: pending tracks (worklist − journal)
    are decoded, chunked, batch-featurized, written as parquet, and only
    then journaled — the reference's save-then-record contract
    (mert_batched_uuid.py:205-226 via streaming/journal.run_incremental).
    Returns the number of tracks processed. Rerun is a no-op; a crash
    between write and journal reprocesses, never loses."""
    from tlmc_etl_spark.streaming.journal import run_incremental

    return run_incremental(
        spark,
        audio,
        lambda todo: audio_chunk_embeddings(todo, id_col, payload_col),
        out_dir,
        journal_dir,
        id_col=id_col,
    )
