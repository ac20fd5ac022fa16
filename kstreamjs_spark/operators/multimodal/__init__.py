"""Multimodal-column plumbing: image/audio/video payloads travel as opaque
``binary`` columns with typed metadata; decode / feature-extract run as
Arrow-batched Pandas functions over ``mapInPandas``.

Five formats decode FOR REAL with dependency-free pure-Python kernels:
uncompressed BMP (header arithmetic, `decode_bmp`), PCM WAV (RIFF chunk
walk, `decode_wav`), 8-bit PNG (chunk walk + CRC + stdlib-zlib inflate +
all-five-filter reconstruction with a pixel checksum, `decode_png`),
JPEG — baseline AND progressive (SOF2 multi-scan: spectral selection,
successive approximation, EOB-run coding), grayscale, 4:4:4 color, and
the chroma-subsampled 4:2:0/4:2:2 layouts real corpora are full of
(marker walk + DHT-driven huffman entropy decode + dequantize +
numpy-batched 2-D IDCT + chroma upsample, `decode_jpeg`), and ISO-BMFF
MP4 (box walk over moov/trak/stbl sample tables for metadata AND real
per-frame offset/size/timestamp rows, `decode_mp4` /
`mp4_sample_table`). Video frame PIXEL decode is real for the
Motion-JPEG family (`decode_mjpeg_frame`: sample-table seek + the full
JPEG pixel kernel on the sliced sample — intra-frame video needs no
codec library).
Remaining honest limit, clearly marked below: frame-pixel decode of
INTER-frame codecs (H.264/VP9/AV1) needs codec libraries the container
lacks, so `_decode_stub` and `resize_blobs` keep deterministic fakes. Everything Spark-side — schema,
batch iteration, partitioning behavior, UDF signatures — is real and
tested; swapping a stub for PIL/ffmpeg is a one-function change.

Scale notes: binary payloads dominate row size, so these pipelines set
``spark.sql.files.maxPartitionBytes`` lower (or store blobs in separate
row groups) to keep Arrow batches memory-bounded; mapInPandas streams
batches, never materializing a partition at once.
"""

# The format submodules (core/image/jpeg/animation/audio/video/blobs)
# share one namespace: every name they expose — including the underscore-prefixed kernel
# internals the white-box tests pin — is re-exported here verbatim so
# `operators.multimodal.X` keeps working unchanged.
from . import animation, audio, blobs, core, image, jpeg, video

for _m in (core, image, jpeg, animation, audio, video, blobs):
    for _k in dir(_m):
        if not _k.startswith("__"):
            globals()[_k] = getattr(_m, _k)
del _m, _k
