"""Minimal stdlib reader for uncompressed RDX3 (.rda) files in XDR format.

Used only by the test harness to decode the reference's golden fixtures at
/root/reference/data/*.rda (see FIXTURES.md §6). Not engine code.

Supports the SEXP subset actually present in the six fixtures:
SYMSXP, LISTSXP/LANGSXP pairlists, CHARSXP, LGLSXP, INTSXP, REALSXP, STRSXP,
VECSXP, CLOSXP/ENVSXP (skipped structurally), EXTPTRSXP, NILVALUE, REFSXP,
plus a tolerant ALTREP expansion for compact sequences / wrappers.
"""

from __future__ import annotations

import datetime as _dt
import math
import struct

NA_INT = -2147483648

# SEXP type codes
SYMSXP = 1
LISTSXP = 2
CLOSXP = 3
ENVSXP = 4
PROMSXP = 5
LANGSXP = 6
SPECIALSXP = 7
BUILTINSXP = 8
CHARSXP = 9
LGLSXP = 10
INTSXP = 13
REALSXP = 14
CPLXSXP = 15
STRSXP = 16
DOTSXP = 17
VECSXP = 19
EXPRSXP = 20
BCODESXP = 21
EXTPTRSXP = 22
RAWSXP = 24
S4SXP = 25
ALTREP_SXP = 238
EMPTYENV_SXP = 242
BASEENV_SXP = 241
GLOBALENV_SXP = 253
UNBOUNDVALUE_SXP = 252
MISSINGARG_SXP = 251
BASENAMESPACE_SXP = 250
NAMESPACESXP = 249
PACKAGESXP = 248
PERSISTSXP = 247
NILVALUE_SXP = 254
REFSXP = 255


class RObj:
    """A decoded R object: .value holds the python payload, .attrs the attributes."""

    __slots__ = ("value", "attrs", "tag")

    def __init__(self, value, attrs=None, tag=None):
        self.value = value
        self.attrs = attrs or {}
        self.tag = tag

    def __repr__(self):
        return f"RObj({type(self.value).__name__}, attrs={list(self.attrs)})"


class _Reader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.refs: list = []

    def _read(self, n: int) -> bytes:
        b = self.data[self.pos : self.pos + n]
        if len(b) != n:
            raise EOFError("truncated RDX3 stream")
        self.pos += n
        return b

    def u4(self) -> int:
        return struct.unpack(">I", self._read(4))[0]

    def i4(self) -> int:
        return struct.unpack(">i", self._read(4))[0]

    def f8(self) -> float:
        return struct.unpack(">d", self._read(8))[0]

    def header(self):
        magic = self._read(5)
        if magic != b"RDX3\n":
            raise ValueError(f"not an uncompressed RDX3 file (magic={magic!r})")
        fmt = self._read(2)
        if fmt != b"X\n":
            raise ValueError("only XDR format supported")
        _version = self.i4()
        _writer = self.i4()
        _minreader = self.i4()
        if _version >= 3:
            enc_len = self.i4()
            self._read(enc_len)  # native encoding string

    def read_obj(self):
        flags = self.i4()
        typ = flags & 0xFF
        has_attr = bool(flags & 0x200)
        has_tag = bool(flags & 0x400)

        if typ == NILVALUE_SXP:
            return None
        if typ == REFSXP:
            idx = flags >> 8
            if idx == 0:
                idx = self.i4()
            return self.refs[idx - 1]
        if typ == SYMSXP:
            name = self.read_obj()  # CHARSXP
            sym = RObj(name.value if isinstance(name, RObj) else name)
            self.refs.append(sym)
            return sym
        if typ in (GLOBALENV_SXP, EMPTYENV_SXP, BASEENV_SXP, UNBOUNDVALUE_SXP,
                   MISSINGARG_SXP, BASENAMESPACE_SXP):
            return RObj(f"<env:{typ}>")
        if typ in (NAMESPACESXP, PACKAGESXP, PERSISTSXP):
            _ = self.i4()  # flags
            names = self.read_obj()
            obj = RObj(f"<ns:{names.value if isinstance(names, RObj) else names}>")
            self.refs.append(obj)
            return obj
        if typ == ENVSXP:
            obj = RObj("<environment>")
            self.refs.append(obj)
            _locked = self.i4()
            self.read_obj()  # enclos
            self.read_obj()  # frame
            self.read_obj()  # hashtab
            self.read_obj()  # attrib
            return obj
        if typ in (LISTSXP, LANGSXP, PROMSXP, DOTSXP):
            attrs = self._read_attrs_inline() if has_attr else {}
            tag = self.read_obj() if has_tag else None
            car = self.read_obj()
            cdr = self.read_obj()
            pairs = [(tag, car)]
            node = cdr
            while isinstance(node, RObj) and isinstance(node.value, list) and node.tag == "__pairlist__":
                pairs.extend(node.value)
                node = None
            if node is not None and isinstance(node, RObj) and node.tag == "__pairlist__":
                pass
            out = RObj(pairs, attrs, tag="__pairlist__")
            if isinstance(cdr, RObj) and cdr.tag == "__pairlist__":
                out.value = [(tag, car)] + cdr.value
            return out
        if typ == CLOSXP:
            if has_attr:
                self._read_attrs_inline()
            self.read_obj()  # environment (tag slot)
            self.read_obj()  # formals
            self.read_obj()  # body
            return RObj("<closure>")
        if typ == EXTPTRSXP:
            obj = RObj("<extptr>")
            self.refs.append(obj)
            self.read_obj()  # protected
            self.read_obj()  # tag
            if has_attr:
                self._read_attrs_inline()
            return obj
        if typ in (SPECIALSXP, BUILTINSXP):
            n = self.i4()
            name = self._read(n).decode("utf-8", "replace")
            return RObj(f"<builtin:{name}>")
        if typ == CHARSXP:
            n = self.i4()
            if n == -1:
                return RObj(None)
            return RObj(self._read(n).decode("utf-8", "replace"))
        if typ == LGLSXP:
            n = self._length()
            vals = [self.i4() for _ in range(n)]
            return self._finish_vec([None if v == NA_INT else bool(v) for v in vals], has_attr)
        if typ == INTSXP:
            n = self._length()
            vals = [self.i4() for _ in range(n)]
            return self._finish_vec([None if v == NA_INT else v for v in vals], has_attr)
        if typ == REALSXP:
            n = self._length()
            raw = self._read(8 * n)
            vals = list(struct.unpack(f">{n}d", raw)) if n else []
            # R NA_real_ is a SIGNALING NaN (payload 1954); canonicalize to a
            # quiet NaN — numpy's fmin/fmax (hence nanmin/nanmax) mishandle
            # signaling NaNs per IEEE-754 (fmin(sNaN, x) -> qNaN).
            vals = [math.nan if (isinstance(v, float) and math.isnan(v)) else v
                    for v in vals]
            return self._finish_vec(vals, has_attr)
        if typ == CPLXSXP:
            n = self._length()
            vals = [complex(self.f8(), self.f8()) for _ in range(n)]
            return self._finish_vec(vals, has_attr)
        if typ == STRSXP:
            n = self._length()
            vals = []
            for _ in range(n):
                c = self.read_obj()
                vals.append(c.value if isinstance(c, RObj) else c)
            return self._finish_vec(vals, has_attr)
        if typ in (VECSXP, EXPRSXP):
            n = self._length()
            vals = [self.read_obj() for _ in range(n)]
            return self._finish_vec(vals, has_attr)
        if typ == RAWSXP:
            n = self._length()
            return self._finish_vec(self._read(n), has_attr)
        if typ == S4SXP:
            attrs = self._read_attrs_inline() if has_attr else {}
            return RObj("<S4>", attrs)
        if typ == BCODESXP:
            raise NotImplementedError("BCODESXP not supported")
        if typ == ALTREP_SXP:
            info = self.read_obj()
            state = self.read_obj()
            attr = self.read_obj()
            return self._expand_altrep(info, state, attr)
        raise NotImplementedError(f"SEXP type {typ} at offset {self.pos}")

    def _length(self) -> int:
        n = self.i4()
        if n == -1:
            upper = self.u4()
            lower = self.u4()
            n = (upper << 32) | lower
        return n

    def _finish_vec(self, vals, has_attr: bool):
        attrs = self._read_attrs_inline() if has_attr else {}
        return RObj(vals, attrs)

    def _read_attrs_inline(self) -> dict:
        node = self.read_obj()
        attrs = {}
        if isinstance(node, RObj) and node.tag == "__pairlist__":
            for tag, car in node.value:
                key = tag.value if isinstance(tag, RObj) else tag
                attrs[key] = car
        return attrs

    def _expand_altrep(self, info, state, attr):
        name = None
        if isinstance(info, RObj) and info.tag == "__pairlist__" and info.value:
            first = info.value[0][1]
            if isinstance(first, RObj):
                name = first.value
        if name == "compact_intseq":
            n, start, by = state.value
            return RObj([int(start + i * by) for i in range(int(n))])
        if name == "compact_realseq":
            n, start, by = state.value
            return RObj([start + i * by for i in range(int(n))])
        if name in ("wrap_integer", "wrap_real", "wrap_logical", "wrap_string", "wrap_complex", "wrap_raw"):
            payload = state
            if isinstance(state, RObj) and state.tag == "__pairlist__":
                payload = state.value[0][1]
            return payload
        if name == "deferred_string":
            payload = state
            if isinstance(state, RObj) and state.tag == "__pairlist__":
                payload = state.value[0][1]
            return payload
        raise NotImplementedError(f"ALTREP class {name!r}")


def _as_py(obj):
    return obj.value if isinstance(obj, RObj) else obj


def _attr(obj, name, default=None):
    if isinstance(obj, RObj) and name in obj.attrs:
        return _as_py(obj.attrs[name])
    return default


def _to_date(days):
    if days is None or (isinstance(days, float) and math.isnan(days)):
        return None
    return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(days))


def decode_column(col):
    """Convert an RObj column to a python list, applying Date class."""
    cls = _attr(col, "class") or []
    vals = _as_py(col)
    if "Date" in cls:
        return [_to_date(v) for v in vals]
    return list(vals)


def load_rda(path: str) -> dict:
    """Load an .rda file → {name: RObj}."""
    with open(path, "rb") as f:
        data = f.read()
    r = _Reader(data)
    r.header()
    top = r.read_obj()
    out = {}
    if isinstance(top, RObj) and top.tag == "__pairlist__":
        for tag, car in top.value:
            key = tag.value if isinstance(tag, RObj) else tag
            out[key] = car
    return out


def rda_table(path: str, name: str) -> dict:
    """Load a data.frame/data.table fixture → {colname: list}."""
    objs = load_rda(path)
    tbl = objs[name]
    names = _attr(tbl, "names")
    cols = _as_py(tbl)
    return {n: decode_column(c) for n, c in zip(names, cols)}


def rda_object(path: str, name: str):
    return load_rda(path)[name]


def require_fixtures(data_dir: str) -> None:
    """Skip the calling test when the golden fixture directory is absent."""
    import os

    import pytest
    if not os.path.isdir(data_dir):
        pytest.skip(f"golden fixtures missing: {data_dir} not found "
                    "(see FIXTURES.md)")
