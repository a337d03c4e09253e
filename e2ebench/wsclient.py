"""Viewer side of the benchmark: an RFC 6455 client and a decoder for the
protobuf ``TimeSeriesMessage`` frames the server sends in binary mode.

Standard library and numpy only; independent of the program, so the
bytes the server puts on the wire are checked, not the program's own
reading of them.
"""

from __future__ import annotations

import asyncio
import base64
import json
import os
import struct
from dataclasses import dataclass

import numpy as np

OP_TEXT, OP_BINARY, OP_CLOSE = 0x1, 0x2, 0x8


@dataclass
class Segment:
    channel: str
    start_ts: int
    is_min_max: bool
    data: np.ndarray
    total_responses: int


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    val = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _fields(buf: bytes):
    """Yield (field number, wire type, value) of a proto3 message."""
    pos = 0
    while pos < len(buf):
        key, pos = _varint(buf, pos)
        num, wt = key >> 3, key & 7
        if wt == 0:
            val, pos = _varint(buf, pos)
        elif wt == 1:
            val, pos = buf[pos:pos + 8], pos + 8
        elif wt == 2:
            n, pos = _varint(buf, pos)
            val, pos = buf[pos:pos + n], pos + n
        elif wt == 5:
            val, pos = buf[pos:pos + 4], pos + 4
        else:
            raise ValueError(f"wire type {wt}")
        yield num, wt, val


def decode_message(buf: bytes) -> Segment:
    """TimeSeriesMessage{1: segment, 5: totalResponses} with
    Segment{1: startTs, 9: isMinMax, 13: data, 14: channelName}."""
    seg, total = b"", 0
    for num, _, val in _fields(buf):
        if num == 1:
            seg = val
        elif num == 5:
            total = val
    start = 0
    is_min_max = False
    name = ""
    chunks = []
    for num, wt, val in _fields(seg):
        if num == 1:
            start = val - (1 << 64) if val >= 1 << 63 else val
        elif num == 9:
            is_min_max = bool(val)
        elif num == 13:
            chunks.append(val if wt == 2 else bytes(val))
        elif num == 14:
            name = val.decode()
    data = np.frombuffer(b"".join(chunks), dtype="<f8")
    return Segment(name, start, is_min_max, data, total)


class WsClient:
    def __init__(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter):
        self.reader, self.writer = reader, writer

    @classmethod
    async def connect(cls, port: int, query: str) -> "WsClient":
        reader, writer = await asyncio.open_connection(
            "127.0.0.1", port, limit=64 * 1024 * 1024
        )
        key = base64.b64encode(os.urandom(16)).decode()
        writer.write(
            (f"GET /ts/query?{query} HTTP/1.1\r\nHost: 127.0.0.1\r\n"
             "Upgrade: websocket\r\nConnection: Upgrade\r\n"
             f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n").encode()
        )
        await writer.drain()
        status = await reader.readline()
        if b" 101 " not in status:
            raise ConnectionError(f"upgrade refused: {status!r}")
        while (await reader.readline()).strip():
            pass
        return cls(reader, writer)

    async def send_json(self, msg: dict) -> None:
        payload = json.dumps(msg).encode()
        mask = os.urandom(4)
        n = len(payload)
        head = bytes([0x80 | OP_TEXT])
        if n < 126:
            head += bytes([0x80 | n])
        elif n < 1 << 16:
            head += bytes([0x80 | 126]) + struct.pack(">H", n)
        else:
            head += bytes([0x80 | 127]) + struct.pack(">Q", n)
        masked = (np.frombuffer(payload, np.uint8)
                  ^ np.resize(np.frombuffer(mask, np.uint8), n)).tobytes()
        self.writer.write(head + mask + masked)
        await self.writer.drain()

    async def recv(self) -> tuple[int, bytes]:
        b1, b2 = await self.reader.readexactly(2)
        n = b2 & 0x7F
        if n == 126:
            n = struct.unpack(">H", await self.reader.readexactly(2))[0]
        elif n == 127:
            n = struct.unpack(">Q", await self.reader.readexactly(8))[0]
        return b1 & 0x0F, await self.reader.readexactly(n)

    async def recv_json(self) -> dict:
        """Next text message that is not a keep-alive."""
        while True:
            op, payload = await self.recv()
            if op == OP_TEXT:
                msg = json.loads(payload)
                if not msg.get("keepAlive"):
                    return msg

    async def close(self) -> None:
        try:
            self.writer.write(bytes([0x80 | OP_CLOSE, 0x80]) + os.urandom(4))
            await self.writer.drain()
        except ConnectionError:
            pass
        self.writer.close()
        try:
            await self.writer.wait_closed()
        except ConnectionError:
            pass
