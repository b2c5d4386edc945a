"""Tile serving: the data/mask endpoint logic behind
GET /layers/{name}/tiles/{data|mask}/{z}/{x}/{y}.{ext}
(railgun/handlers/LayerTileHandler.go, LayerMaskHandler.go; SURVEY §3.3).

Pipeline parity:
  tile -> buffered bbox (LayerTileHandler.go:239-244)
  extent short-circuit (LayerTileHandler.go:117-140): empty result with NO
    data read when the tile misses the layer extent — the driver-side twin
    of partition pruning
  bbox filter ∧ layer expression ∧ user dfl -> limit -> GeoJSON envelope
    (pipeline/Pipeline.go:7-11, named/named.go:14-20)
  small layers: the reference filters its in-memory layer cache by the
    bbox inside the process (cache/Cache.go:25-79); `LayerSnapshot` is
    that cache, one driver-side Arrow table per layer, so a tile miss is
    a numpy mask instead of a Spark job
  mask: group-by-finer-zoom-tile counts -> threshold -> 256x256 png grid
    (LayerMaskHandler.go:176-215, img/RespondWithGrid.go:20-46)

The png encoder is pure python (zlib) since PIL is absent here; the raster
is at most 256x256 greyscale — driver-side cost is negligible, and only
the groupBy counts (<= 4^dz cells) ever reach the driver.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.types import DoubleType, FloatType, IntegralType, StructType

from railgun_spark.dfl import run_pipeline
from railgun_spark.geo.tiles import bbox_filter, tile_bbox, tile_x, tile_y


def buffered_tile_bbox(z: int, x: int, y: int, buffer_tiles: int = 1) -> tuple[float, float, float, float]:
    """Expand the request tile's bbox by ±buffer tiles
    (LayerTileHandler.go:239-244)."""
    w1, s1, _, _ = tile_bbox(z, x - buffer_tiles, y + buffer_tiles)
    _, _, e2, n2 = tile_bbox(z, x + buffer_tiles, y - buffer_tiles)
    return (w1, s1, e2, n2)


def extent_intersects(a: tuple | list | None, b: tuple | list | None) -> bool:
    """[w,s,e,n] intersection test; None extent = unbounded
    (LayerTileHandler.go:117-140)."""
    if a is None or b is None:
        return True
    return not (a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1])


@dataclass(frozen=True)
class LayerSnapshot:
    """A small layer frame held on the driver: its rows as one Arrow
    table in ``collect()`` order, its lon/lat as float64 arrays for the
    bbox mask (null -> NaN, which no bbox holds), and its schema."""

    table: pa.Table
    lon: np.ndarray
    lat: np.ndarray
    schema: StructType

    def rows_in(self, bbox: tuple, limit: int | None = None) -> list[Row]:
        """The rows inside ``bbox`` (bounds inclusive), the first
        ``limit`` of them when ``limit >= 0``, built as ``collect()``
        builds them from Arrow."""
        w, s, e, n = bbox
        idx = np.flatnonzero(
            (self.lon >= w) & (self.lon <= e) & (self.lat >= s) & (self.lat <= n)
        )
        if limit is not None and limit >= 0:
            idx = idx[:limit]
        return ArrowTableToRowsConversion.convert(self.table.take(idx), self.schema)


def layer_snapshot(
    df: DataFrame, lon_col: str = "lon", lat_col: str = "lat"
) -> LayerSnapshot | None:
    """``df`` read once into a `LayerSnapshot` when it is small enough to
    hold on the driver, else None (its tiles stay on Spark). Small means
    what Spark itself would ship to every executor: the optimized plan's
    size estimate is within ``spark.sql.autoBroadcastJoinThreshold``. A
    threshold of -1 or unknown stats (8 EiB) keeps Spark, and so do
    lon/lat columns that are not integer or floating point, whose
    comparison with the bbox Spark casts by its own rules."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if not 0 <= size <= conf.autoBroadcastJoinThreshold():
        return None
    fields = {f.name: f.dataType for f in df.schema.fields}
    if not all(
        isinstance(fields.get(c), (IntegralType, FloatType, DoubleType))
        for c in (lon_col, lat_col)
    ):
        return None
    table = df.toArrow()

    def coord(c: str) -> np.ndarray:
        return np.asarray(table.column(c).to_numpy(), dtype=np.float64)

    return LayerSnapshot(table, coord(lon_col), coord(lat_col), df.schema)


def tile_data(
    df: DataFrame | LayerSnapshot,
    z: int,
    x: int,
    y: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    layer_extent: tuple | None = None,
    user_dfl: str | None = None,
    limit: int | None = None,
    buffer_tiles: int = 1,
) -> list[dict]:
    """Tile data query -> GeoJSON FeatureCollection feature list, from
    the layer frame (one Spark job) or its `LayerSnapshot` (no job; a
    user dfl needs the frame).

    Returns [] without touching data when the tile misses the extent."""
    bbox = buffered_tile_bbox(z, x, y, buffer_tiles)
    if not extent_intersects(bbox, layer_extent):
        return []
    if isinstance(df, LayerSnapshot):
        if user_dfl:
            raise ValueError("a user dfl runs on Spark: pass the layer frame")
        rows = df.rows_in(bbox, limit)
    else:
        out = df.filter(bbox_filter(F.col(lon_col), F.col(lat_col), bbox))
        if user_dfl:
            out = run_pipeline(out, user_dfl)
        if limit is not None and limit >= 0:
            out = out.limit(limit)
        rows = out.collect()
    feats = []
    for r in rows:
        d = r.asDict(recursive=True)
        lon, lat = d.pop(lon_col), d.pop(lat_col)
        feats.append(
            {
                "type": "Feature",
                "properties": {k: v for k, v in d.items() if not k.startswith("_tile_")},
                "geometry": {"type": "Point", "coordinates": [lon, lat]},
            }
        )
    return feats


def feature_collection(features: list[dict]) -> dict:
    """GeoJSON envelope (named/named.go:20)."""
    return {
        "type": "FeatureCollection",
        "features": features,
        "numberOfFeatures": len(features),
    }


# the finest mask zoom below a tile: a grid of at most 2^8 x 2^8 cells,
# one per pixel of the 256x256 raster
MASK_MAX_DZ = 8


def tile_mask_grid(
    df: DataFrame,
    z: int,
    x: int,
    y: int,
    mask_zoom: int,
    threshold: int = 1,
    lon_col: str = "lon",
    lat_col: str = "lat",
    layer_extent: tuple | None = None,
) -> list[list[int]]:
    """Mask raster for a tile: counts at `mask_zoom` (finer than z), cells
    with >= threshold features set to 1 (LayerMaskHandler.go:176-214).
    Returns a (2^dz x 2^dz) nested list; only counts reach the driver."""
    dz = mask_zoom - z
    side = 2**dz
    bbox = tile_bbox(z, x, y)
    grid = [[0] * side for _ in range(side)]
    if not extent_intersects(bbox, layer_extent):
        return grid
    lon, lat = F.col(lon_col), F.col(lat_col)
    sub = df.filter(bbox_filter(lon, lat, bbox)).select(
        (tile_x(lon, mask_zoom) - x * side).alias("cx"),
        (tile_y(lat, mask_zoom) - y * side).alias("cy"),
    )
    counts = sub.groupBy("cx", "cy").count().collect()
    for r in counts:
        cx, cy = int(r["cx"]), int(r["cy"])
        if 0 <= cx < side and 0 <= cy < side and r["count"] >= threshold:
            grid[cy][cx] = 1
    return grid


def grid_to_png(grid: list[list[int]], size: int = 256) -> bytes:
    """Greyscale PNG of the mask grid scaled to size x size
    (img/RespondWithGrid.go:20-46 equivalent), pure python."""
    side = len(grid)
    scale = max(1, size // side)
    px_rows = []
    for gy in range(side):
        row = bytearray()
        for gx in range(side):
            row += bytes([255 if grid[gy][gx] else 0]) * scale
        for _ in range(scale):
            px_rows.append(b"\x00" + bytes(row))  # filter byte 0 per scanline
    w = h = side * scale
    raw = b"".join(px_rows)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit greyscale
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW: variable-width codes (LSB-first), CLEAR/EOI,
    dictionary reset at 4096. The code WIDTH is governed by the
    receiver: a decoder completes one dictionary entry per data code
    (except the first after a clear) and widens when ITS counter fills
    a power of two — one entry behind the encoder's own assignments,
    and including one final add after the LAST data code, which can
    widen the EOI. The encoder therefore simulates the decoder's width
    state verbatim instead of deriving it from its own counter (the
    off-by-one at end-of-stream was caught by the hypothesis
    round-trip)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # (code, width) pairs accumulate and pack ONCE via numpy at the end
    # (LSB-first) — the per-code Python bit loop held the GIL for the
    # bulk of the encode under serve concurrency (SERVE_CONC_SF1_r14)
    codes: list = []
    widths: list = []

    # encoder's dictionary keyed by (prefix_code << 8) | symbol — int
    # keys instead of growing tuples: the hot loop does one int shift
    # and one dict probe per pixel, never builds a sequence object. Code
    # assignment order is unchanged (matches the decoder's entry
    # construction order).
    table: dict = {}
    nxt = eoi + 1
    # simulated DECODER width state (see docstring)
    dec_nxt = eoi + 1
    dec_width = min_code_size + 1
    first_data = True

    def emit_data(code):
        nonlocal dec_nxt, dec_width, first_data
        codes.append(code)
        widths.append(dec_width)
        if first_data:
            first_data = False
        else:
            dec_nxt += 1
            if dec_nxt == (1 << dec_width) and dec_width < 12:
                dec_width += 1

    def emit_clear():
        nonlocal table, nxt, dec_nxt, dec_width, first_data
        codes.append(clear)
        widths.append(dec_width)
        table = {}
        nxt = eoi + 1
        dec_nxt = eoi + 1
        dec_width = min_code_size + 1
        first_data = True

    codes.append(clear)
    widths.append(dec_width)
    buf = -1
    for px in indices:
        if buf < 0:
            buf = px
            continue
        key = (buf << 8) | px
        c = table.get(key)
        if c is not None:
            buf = c
            continue
        emit_data(buf)
        table[key] = nxt
        nxt += 1
        if nxt == 4096:
            emit_clear()
        buf = px
    if buf >= 0:
        emit_data(buf)
    codes.append(eoi)
    widths.append(dec_width)

    cd = np.asarray(codes, dtype=np.uint32)
    wd = np.asarray(widths, dtype=np.int64)
    total = int(wd.sum())
    # bit i of the stream = bit (i - start_of_its_code) of that code,
    # LSB first; np.packbits(bitorder="little") then matches the GIF
    # byte order exactly
    pos_in_code = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(wd) - wd, wd
    )
    bits = (np.repeat(cd, wd) >> pos_in_code.astype(np.uint32)) & 1
    return np.packbits(
        bits.astype(np.uint8), bitorder="little"
    ).tobytes()


def grid_to_gif(grid: list[list[int]], size: int = 256) -> bytes:
    """GIF87a of the mask grid scaled to size x size — the reference's
    gif branch of img/RespondWithGrid.go:33-34, library-free (from-scratch
    LZW). Two-entry palette: background black, mask white."""
    side = len(grid)
    scale = max(1, size // side)
    w = h = side * scale
    indices = (
        (np.asarray(grid) != 0)
        .astype(np.uint8)
        .repeat(scale, 0)
        .repeat(scale, 1)
        .ravel()
        .tolist()
    )
    lzw = _lzw_encode(indices, 2)
    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", w, h)
    out += bytes([0xF0, 0, 0])  # global table, 2 entries; bg 0; no aspect
    out += bytes([0, 0, 0, 255, 255, 255])  # palette: black, white
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"  # image desc
    out += bytes([2])  # LZW min code size
    for i in range(0, len(lzw), 255):  # <=255-byte sub-blocks
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def encode_gif_animation(
    frames,
    palette,
    delays_cs=None,
    disposals=None,
    transparent=None,
    screen=None,
    interlace=False,
) -> bytes:
    """GIF89a animation writer (from-scratch, public 89a spec): each
    frame is ``(left, top, rows)`` with ``rows`` a list of palette-index
    lists; one graphic-control extension per frame carries the delay
    (centiseconds), disposal method, and optional transparent index
    (scalar applied to every frame, or a per-frame list). Golden pair
    for operators.multimodal.decode_gif_frames — tests round-trip
    disposal/transparency compositing through the real decoder; also
    the source of the crafted animated-GIF classes in the
    media_refusal_report corpus."""
    n = len(palette)
    # fail on the PRODUCING side: an empty frame would IndexError in the
    # screen computation below, and an out-of-table index would encode a
    # GIF the paired decoder rejects as 'pixel index outside the color
    # table' — masking an encode-time bug as input corruption
    for k, (_left, _top, rows) in enumerate(frames):
        if not rows or not rows[0]:
            raise ValueError(f"GIF frame {k} is empty (no rows/columns)")
        width = len(rows[0])
        for j, row in enumerate(rows):
            if len(row) != width:
                # a ragged frame (later-row width drift, incl. an empty
                # later row) would mis-encode or IndexError downstream
                raise ValueError(
                    f"GIF frame {k} row {j} has {len(row)} pixels; every "
                    f"row must match row 0's width {width}"
                )
            for v in row:
                if not 0 <= int(v) < n:
                    raise ValueError(
                        f"GIF frame {k} palette index {v} outside the "
                        f"{n}-entry color table"
                    )
    bits = max(1, (n - 1).bit_length())
    size = 1 << bits
    min_code = max(2, bits)
    if screen is None:
        sw = max(left + len(rows[0]) for left, _top, rows in frames)
        sh = max(top + len(rows) for _left, top, rows in frames)
    else:
        sw, sh = screen
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    out += bytes([0x80 | (bits - 1), 0, 0])  # global table, bg index 0
    for r, g, b in palette:
        out += bytes([r, g, b])
    out += bytes(3) * (size - n)  # pad the table to 2^bits entries
    for k, (left, top, rows) in enumerate(frames):
        delay = delays_cs[k] if delays_cs else 0
        disp = disposals[k] if disposals else 0
        tr = transparent[k] if isinstance(transparent, (list, tuple)) else transparent
        gp = (disp & 0x07) << 2
        if tr is not None:
            gp |= 0x01
        out += bytes([0x21, 0xF9, 4, gp]) + struct.pack("<H", delay)
        out += bytes([tr or 0, 0])
        h, w = len(rows), len(rows[0])
        if interlace:
            # store rows in the spec's 4-pass order; the descriptor flag
            # tells the decoder to de-shuffle
            order = [y for y0, dy in ((0, 8), (4, 8), (2, 4), (1, 2))
                     for y in range(y0, h, dy)]
            rows = [rows[y] for y in order]
        out += b"\x2c" + struct.pack("<HHHH", left, top, w, h)
        out += bytes([0x40 if interlace else 0x00])
        out += bytes([min_code])
        lzw = _lzw_encode([int(v) for row in rows for v in row], min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def grid_to_jpeg(grid: list[list[int]], size: int = 256) -> bytes:
    """Baseline JPEG of the mask grid — the reference's jpeg branch of
    img/RespondWithGrid.go:35-37, via the library's own grayscale
    encoder (operators/jpeg.py)."""
    from railgun_spark.operators.jpeg import encode_gray_jpeg

    side = len(grid)
    scale = max(1, size // side)
    g = (np.asarray(grid, dtype="uint8") * 255).repeat(scale, 0).repeat(scale, 1)
    return encode_gray_jpeg(g)


MASK_FORMATS = {
    "png": (grid_to_png, "image/png"),
    "gif": (grid_to_gif, "image/gif"),
    "jpg": (grid_to_jpeg, "image/jpeg"),
    "jpeg": (grid_to_jpeg, "image/jpeg"),
}


def grid_to_image(grid: list[list[int]], ext: str, size: int = 256) -> tuple[bytes, str]:
    """Encode a mask grid as (bytes, mimetype) by extension — the
    RespondWithGrid format dispatch (png/gif/jpg)."""
    if ext not in MASK_FORMATS:
        raise ValueError(f"unsupported mask format {ext!r} (png/gif/jpg/jpeg)")
    fn, mime = MASK_FORMATS[ext]
    return fn(grid, size=size), mime
