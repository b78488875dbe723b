"""Decoded-size cap shared by the still-image codecs (PNG, BMP, TIFF, GIF,
JPEG).

A header's width×height is untrusted: each decoder rejects a claim above
``MAX_PIXELS`` before it allocates anything sized from it, so a
kilobyte-sized payload cannot ask for a multi-gigabyte canvas. 2²⁸ pixels
is 768 MB as RGB, far beyond any published still.
"""

MAX_PIXELS = 1 << 28
