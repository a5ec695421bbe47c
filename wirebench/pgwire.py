"""A minimal PostgreSQL protocol v3 client over TCP.

Latency-critical calls only move bytes: they read whole messages into one
buffer until ReadyForQuery and return them raw, so decoding and checking
happen after the clock stops. `decode` turns a raw reply into rows.
"""
import socket
import struct
import time

_HDR = struct.Struct("!cI")


class PgError(Exception):
    pass


class Reply:
    """Raw backend messages of one request, with client-side timings."""
    __slots__ = ("raw", "t_send", "t_first_row", "t_done", "bytes_out")
    # perf_counter() -> wall-clock seconds, to align with server-side traces
    wall_offset = time.time() - time.perf_counter()

    def __init__(self, raw, t_send, t_first_row, t_done, bytes_out):
        self.raw = raw
        self.t_send = t_send
        self.t_first_row = t_first_row
        self.t_done = t_done
        self.bytes_out = bytes_out

    @property
    def latency_s(self):
        return self.t_done - self.t_send

    @property
    def window_ms(self):
        """[send, ReadyForQuery] as wall-clock epoch milliseconds."""
        return ((self.t_send + self.wall_offset) * 1000,
                (self.t_done + self.wall_offset) * 1000)


def _msg(tag, body):
    return tag + struct.pack("!I", len(body) + 4) + body


def _cstr(s):
    return s.encode() + b"\0"


class Conn:
    def __init__(self, host, port, database="graft", user="bench", timeout=170):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray(1 << 20)
        body = struct.pack("!I", 196608) + _cstr("user") + _cstr(user) + \
            _cstr("database") + _cstr(database) + b"\0"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        reply = self._until_ready(time.perf_counter())
        for tag, payload in messages(reply.raw):
            if tag == b"E":
                raise PgError(error_text(payload))

    def close(self):
        try:
            self.sock.sendall(_msg(b"X", b""))
        except OSError:
            pass
        self.sock.close()

    def _until_ready(self, t_send, bytes_out=0, copy_data=None):
        """Reads messages until ReadyForQuery. On CopyInResponse, streams
        `copy_data` (an iterable of bytes chunks) and ends the copy."""
        buf, n, pos = self.buf, 0, 0
        t_first_row = None
        view = memoryview(buf)
        while True:
            while n - pos >= 5:
                tag, ln = _HDR.unpack_from(buf, pos)
                end = pos + 1 + ln
                if end > n:
                    break
                if (tag == b"D" or tag == b"d") and t_first_row is None:
                    t_first_row = time.perf_counter()
                elif tag == b"G":
                    for chunk in copy_data or ():
                        self.sock.sendall(_msg(b"d", chunk))
                        bytes_out += len(chunk) + 5
                    self.sock.sendall(_msg(b"c", b""))
                    bytes_out += 5
                elif tag == b"Z":
                    return Reply(bytes(view[:end]), t_send, t_first_row,
                                 time.perf_counter(), bytes_out)
                pos = end
            if n == len(buf):
                view.release()
                buf.extend(bytes(len(buf)))
                view = memoryview(buf)
            got = self.sock.recv_into(view[n:])
            if got == 0:
                raise PgError("server closed the connection")
            n += got

    def simple(self, sql, copy_data=None):
        """Sends one simple-protocol Query; returns the raw Reply."""
        data = _msg(b"Q", _cstr(sql))
        t = time.perf_counter()
        self.sock.sendall(data)
        return self._until_ready(t, len(data), copy_data)

    def extended(self, sql, params):
        """Parse/Bind/Describe/Execute/Sync with text parameters, the way
        pgjdbc sends an unnamed prepared statement."""
        parse = _msg(b"P", b"\0" + _cstr(sql) + struct.pack("!H", 0))
        bind = bytearray(b"\0\0" + struct.pack("!HH", 0, len(params)))
        for p in params:
            v = str(p).encode()
            bind += struct.pack("!I", len(v)) + v
        bind += struct.pack("!H", 0)
        data = parse + _msg(b"B", bytes(bind)) + _msg(b"D", b"P\0") + \
            _msg(b"E", b"\0" + struct.pack("!I", 0)) + _msg(b"S", b"")
        t = time.perf_counter()
        self.sock.sendall(data)
        return self._until_ready(t, len(data))


def messages(raw):
    pos, n = 0, len(raw)
    while pos < n:
        tag, ln = _HDR.unpack_from(raw, pos)
        yield tag, raw[pos + 5:pos + 1 + ln]
        pos += 1 + ln


def error_text(payload):
    fields = {}
    for part in payload.split(b"\0"):
        if part:
            fields[chr(part[0])] = part[1:].decode(errors="replace")
    return f"{fields.get('C', '?')}: {fields.get('M', '')}"


class Result:
    __slots__ = ("columns", "oids", "rows", "tags", "copy_lines", "errors")

    def __init__(self):
        self.columns, self.oids, self.rows = [], [], []
        self.tags, self.copy_lines, self.errors = [], [], []


def decode(raw):
    """Raw reply -> Result: text-format DataRow values (None for NULL),
    CommandComplete tags, CopyData lines and error texts."""
    r = Result()
    for tag, p in messages(raw):
        if tag == b"D":
            k = struct.unpack_from("!H", p, 0)[0]
            pos, row = 2, []
            for _ in range(k):
                ln = struct.unpack_from("!i", p, pos)[0]
                pos += 4
                if ln < 0:
                    row.append(None)
                else:
                    row.append(p[pos:pos + ln].decode())
                    pos += ln
            r.rows.append(row)
        elif tag == b"T":
            k = struct.unpack_from("!H", p, 0)[0]
            pos = 2
            for _ in range(k):
                end = p.index(b"\0", pos)
                r.columns.append(p[pos:end].decode())
                pos = end + 1
                r.oids.append(struct.unpack_from("!I", p, pos + 6)[0])
                pos += 18
        elif tag == b"d":
            r.copy_lines.append(p)
        elif tag == b"C":
            r.tags.append(p.rstrip(b"\0").decode())
        elif tag == b"E":
            r.errors.append(error_text(p))
    return r
