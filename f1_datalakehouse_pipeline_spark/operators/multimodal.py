"""Magic-byte MIME sniffing on an opaque binary payload column.

``sniff_mime`` classifies a payload by its leading container magic (PNG,
JPEG, GIF, WAV, FLAC, PDF, MP4) without decoding it. It is built from native
expressions only (``hex`` of the first bytes), so it stays in whole-stage
codegen and never crosses into Python. The ``mm_magic_sniff`` registry query
runs it against its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def sniff_mime(payload) -> "F.Column":
    """MIME type of a binary column from its first 8 bytes; unknown prefixes
    map to 'application/octet-stream'."""
    hx = F.hex(F.substring(payload, 1, 8))
    return (
        F.when(hx.startswith("89504E47"), "image/png")
        .when(hx.startswith("FFD8FF"), "image/jpeg")
        .when(hx.startswith("47494638"), "image/gif")
        .when(hx.startswith("52494646"), "audio/wav")  # RIFF (wav/avi container)
        .when(hx.startswith("664C6143"), "audio/flac")  # fLaC
        .when(hx.startswith("25504446"), "application/pdf")  # %PDF
        .when(F.substring(hx, 9, 8) == "66747970", "video/mp4")  # ....ftyp
        .otherwise("application/octet-stream")
    )
