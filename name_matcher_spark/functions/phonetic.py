"""Phonetic encoders: blocking Soundex and Double Metaphone.

``soundex4`` mirrors the reference's blocking soundex exactly
(src/matching/mod.rs:1227-1238). Note it is NOT standard Soundex: any
non-coded character (vowels, h, w, y) resets the adjacent-duplicate
state, so e.g. "pfister" codes differently from `F.soundex`. Because
blocking keys must be identical on both join sides, we use this exact
variant rather than the JVM built-in.

``double_metaphone`` implements the published Lawrence Philips Double
Metaphone algorithm (primary code, max length 4) as standardized by
Apache commons-codec, which the reference's rphonetic crate ports
(src/matching/mod.rs:83-99 uses the primary code only, compared for
exact equality -> a binary 100/0 signal). Inputs in the pipeline are
pre-cleaned by normalize_for_phonetic (ASCII letters + single spaces),
but the implementation accepts arbitrary ASCII.
"""

from __future__ import annotations

VOWELS = "AEIOUY"
SILENT_STARTS = ("GN", "KN", "PN", "WR", "PS")
L_R_N_M_B_H_F_V_W_SPACE = ("L", "R", "N", "M", "B", "H", "F", "V", "W", " ")
ES_EP_EB_EL_EY_IB_IL_IN_IE_EI_ER = (
    "ES", "EP", "EB", "EL", "EY", "IB", "IL", "IN", "IE", "EI", "ER",
)
L_T_K_S_N_M_B_Z = ("L", "T", "K", "S", "N", "M", "B", "Z")


def soundex4(s: str | None) -> str:
    """4-char blocking soundex, parity with mod.rs:1227-1238.

    First ASCII-alphabetic char uppercased, then digits 1-6 with
    adjacent-duplicate collapse where ANY non-coded char resets the
    duplicate state; zero-padded to 4. Empty input -> "0000".
    """
    out = ["0", "0", "0", "0"]
    if not s:
        return "".join(out)
    letters = [c for c in s if c.isascii() and c.isalpha()]
    if not letters:
        return "".join(out)
    out[0] = letters[0].upper()
    codes = {
        "b": 1, "f": 1, "p": 1, "v": 1,
        "c": 2, "g": 2, "j": 2, "k": 2, "q": 2, "s": 2, "x": 2, "z": 2,
        "d": 3, "t": 3,
        "l": 4,
        "m": 5, "n": 5,
        "r": 6,
    }
    last = 0
    idx = 1
    for c in letters[1:]:
        if idx >= 4:
            break
        d = codes.get(c.lower(), 0)
        if d != 0 and d != last:
            out[idx] = str(d)
            idx += 1
        last = d
    return "".join(out)


class _DMResult:
    __slots__ = ("primary", "secondary", "max_len")

    def __init__(self, max_len: int = 4) -> None:
        self.primary: list[str] = []
        self.secondary: list[str] = []
        self.max_len = max_len

    def append(self, p: str, s: str | None = None) -> None:
        if s is None:
            s = p
        self.append_primary(p)
        self.append_secondary(s)

    def append_primary(self, p: str) -> None:
        room = self.max_len - len(self.primary)
        if room > 0:
            self.primary.extend(p[:room])

    def append_secondary(self, s: str) -> None:
        room = self.max_len - len(self.secondary)
        if room > 0:
            self.secondary.extend(s[:room])

    def is_complete(self) -> bool:
        return (
            len(self.primary) >= self.max_len
            and len(self.secondary) >= self.max_len
        )


def _char_at(v: str, i: int) -> str:
    if i < 0 or i >= len(v):
        return ""
    return v[i]


def _contains(v: str, start: int, length: int, *criteria: str) -> bool:
    if start < 0 or start + length > len(v):
        return False
    return v[start : start + length] in criteria


def _is_vowel(v: str, i: int) -> bool:
    return 0 <= i < len(v) and v[i] in VOWELS


def double_metaphone(value: str | None, max_len: int = 4) -> str:
    """Primary Double Metaphone code (uppercase, length <= max_len)."""
    if value is None:
        return ""
    value = value.upper().strip()
    if not value:
        return ""
    slavo = any(x in value for x in ("W", "K", "CZ", "WITZ"))
    index = 1 if value.startswith(SILENT_STARTS) else 0
    r = _DMResult(max_len)
    n = len(value)
    while not r.is_complete() and index <= n - 1:
        ch = value[index]
        if ch in "AEIOUY":
            if index == 0:
                r.append("A")
            index += 1
        elif ch == "B":
            r.append("P")
            index += 2 if _char_at(value, index + 1) == "B" else 1
        elif ch == "\xc7":
            r.append("S")
            index += 1
        elif ch == "C":
            index = _handle_c(value, r, index)
        elif ch == "D":
            index = _handle_d(value, r, index)
        elif ch == "F":
            r.append("F")
            index += 2 if _char_at(value, index + 1) == "F" else 1
        elif ch == "G":
            index = _handle_g(value, r, index, slavo)
        elif ch == "H":
            index = _handle_h(value, r, index)
        elif ch == "J":
            index = _handle_j(value, r, index, slavo)
        elif ch == "K":
            r.append("K")
            index += 2 if _char_at(value, index + 1) == "K" else 1
        elif ch == "L":
            index = _handle_l(value, r, index)
        elif ch == "M":
            r.append("M")
            index += 2 if _condition_m0(value, index) else 1
        elif ch == "N":
            r.append("N")
            index += 2 if _char_at(value, index + 1) == "N" else 1
        elif ch == "\xd1":
            r.append("N")
            index += 1
        elif ch == "P":
            index = _handle_p(value, r, index)
        elif ch == "Q":
            r.append("K")
            index += 2 if _char_at(value, index + 1) == "Q" else 1
        elif ch == "R":
            index = _handle_r(value, r, index, slavo)
        elif ch == "S":
            index = _handle_s(value, r, index, slavo)
        elif ch == "T":
            index = _handle_t(value, r, index)
        elif ch == "V":
            r.append("F")
            index += 2 if _char_at(value, index + 1) == "V" else 1
        elif ch == "W":
            index = _handle_w(value, r, index)
        elif ch == "X":
            index = _handle_x(value, r, index)
        elif ch == "Z":
            index = _handle_z(value, r, index, slavo)
        else:
            index += 1
    return "".join(r.primary).strip()


def _handle_c(v: str, r: _DMResult, i: int) -> int:
    if _condition_c0(v, i):
        r.append("K")
        return i + 2
    if i == 0 and _contains(v, i, 6, "CAESAR"):
        r.append("S")
        return i + 2
    if _contains(v, i, 2, "CH"):
        return _handle_ch(v, r, i)
    if _contains(v, i, 2, "CZ") and not _contains(v, i - 2, 4, "WICZ"):
        r.append("S", "X")
        return i + 2
    if _contains(v, i + 1, 3, "CIA"):
        r.append("X")
        return i + 3
    if _contains(v, i, 2, "CC") and not (i == 1 and _char_at(v, 0) == "M"):
        return _handle_cc(v, r, i)
    if _contains(v, i, 2, "CK", "CG", "CQ"):
        r.append("K")
        return i + 2
    if _contains(v, i, 2, "CI", "CE", "CY"):
        if _contains(v, i, 3, "CIO", "CIE", "CIA"):
            r.append("S", "X")
        else:
            r.append("S")
        return i + 2
    r.append("K")
    if _contains(v, i + 1, 2, " C", " Q", " G"):
        return i + 3
    if _contains(v, i + 1, 1, "C", "K", "Q") and not _contains(
        v, i + 1, 2, "CE", "CI"
    ):
        return i + 2
    return i + 1


def _condition_c0(v: str, i: int) -> bool:
    if _contains(v, i, 4, "CHIA"):
        return True
    if i <= 1:
        return False
    if _is_vowel(v, i - 2):
        return False
    if not _contains(v, i - 1, 3, "ACH"):
        return False
    c = _char_at(v, i + 2)
    return (c != "I" and c != "E") or _contains(v, i - 2, 6, "BACHER", "MACHER")


def _handle_cc(v: str, r: _DMResult, i: int) -> int:
    if _contains(v, i + 2, 1, "I", "E", "H") and not _contains(v, i + 2, 2, "HU"):
        if (i == 1 and _char_at(v, i - 1) == "A") or _contains(
            v, i - 1, 5, "UCCEE", "UCCES"
        ):
            r.append("KS")
        else:
            r.append("X")
        return i + 3
    r.append("K")
    return i + 2


def _handle_ch(v: str, r: _DMResult, i: int) -> int:
    if i > 0 and _contains(v, i, 4, "CHAE"):
        r.append("K", "X")
        return i + 2
    if _condition_ch0(v, i):
        r.append("K")
        return i + 2
    if _condition_ch1(v, i):
        r.append("K")
        return i + 2
    if i > 0:
        if _contains(v, 0, 2, "MC"):
            r.append("K")
        else:
            r.append("X", "K")
    else:
        r.append("X")
    return i + 2


def _condition_ch0(v: str, i: int) -> bool:
    if i != 0:
        return False
    if not _contains(v, i + 1, 5, "HARAC", "HARIS") and not _contains(
        v, i + 1, 3, "HOR", "HYM", "HIA", "HEM"
    ):
        return False
    return not _contains(v, 0, 5, "CHORE")


def _condition_ch1(v: str, i: int) -> bool:
    return (
        _contains(v, 0, 4, "VAN ", "VON ")
        or _contains(v, 0, 3, "SCH")
        or _contains(v, i - 2, 6, "ORCHES", "ARCHIT", "ORCHID")
        or _contains(v, i + 2, 1, "T", "S")
        or (
            (_contains(v, i - 1, 1, "A", "O", "U", "E") or i == 0)
            and (
                _contains(v, i + 2, 1, *L_R_N_M_B_H_F_V_W_SPACE)
                or i + 2 >= len(v)
            )
        )
    )


def _handle_d(v: str, r: _DMResult, i: int) -> int:
    if _contains(v, i, 2, "DG"):
        if _contains(v, i + 2, 1, "I", "E", "Y"):
            r.append("J")
            return i + 3
        r.append("TK")
        return i + 2
    if _contains(v, i, 2, "DT", "DD"):
        r.append("T")
        return i + 2
    r.append("T")
    return i + 1


def _handle_g(v: str, r: _DMResult, i: int, slavo: bool) -> int:
    if _char_at(v, i + 1) == "H":
        return _handle_gh(v, r, i)
    if _char_at(v, i + 1) == "N":
        if i == 1 and _is_vowel(v, 0) and not slavo:
            r.append("KN", "N")
        elif not _contains(v, i + 2, 2, "EY") and _char_at(v, i + 1) != "Y" and not slavo:
            r.append("N", "KN")
        else:
            r.append("KN")
        return i + 2
    if _contains(v, i + 1, 2, "LI") and not slavo:
        r.append("KL", "L")
        return i + 2
    if i == 0 and (
        _char_at(v, i + 1) == "Y"
        or _contains(v, i + 1, 2, *ES_EP_EB_EL_EY_IB_IL_IN_IE_EI_ER)
    ):
        r.append("K", "J")
        return i + 2
    if (
        (_contains(v, i + 1, 2, "ER") or _char_at(v, i + 1) == "Y")
        and not _contains(v, 0, 6, "DANGER", "RANGER", "MANGER")
        and not _contains(v, i - 1, 1, "E", "I")
        and not _contains(v, i - 1, 3, "RGY", "OGY")
    ):
        r.append("K", "J")
        return i + 2
    if _contains(v, i + 1, 1, "E", "I", "Y") or _contains(v, i - 1, 4, "AGGI", "OGGI"):
        if (
            _contains(v, 0, 4, "VAN ", "VON ")
            or _contains(v, 0, 3, "SCH")
            or _contains(v, i + 1, 2, "ET")
        ):
            r.append("K")
        elif _contains(v, i + 1, 3, "IER"):
            r.append("J")
        else:
            r.append("J", "K")
        return i + 2
    r.append("K")
    return i + 2 if _char_at(v, i + 1) == "G" else i + 1


def _handle_gh(v: str, r: _DMResult, i: int) -> int:
    if i > 0 and not _is_vowel(v, i - 1):
        r.append("K")
        return i + 2
    if i == 0:
        if _char_at(v, i + 2) == "I":
            r.append("J")
        else:
            r.append("K")
        return i + 2
    if (
        (i > 1 and _contains(v, i - 2, 1, "B", "H", "D"))
        or (i > 2 and _contains(v, i - 3, 1, "B", "H", "D"))
        or (i > 3 and _contains(v, i - 4, 1, "B", "H"))
    ):
        return i + 2
    if i > 2 and _char_at(v, i - 1) == "U" and _contains(
        v, i - 3, 1, "C", "G", "L", "R", "T"
    ):
        r.append("F")
    elif i > 0 and _char_at(v, i - 1) != "I":
        r.append("K")
    return i + 2


def _handle_h(v: str, r: _DMResult, i: int) -> int:
    if (i == 0 or _is_vowel(v, i - 1)) and _is_vowel(v, i + 1):
        r.append("H")
        return i + 2
    return i + 1


def _handle_j(v: str, r: _DMResult, i: int, slavo: bool) -> int:
    if _contains(v, i, 4, "JOSE") or _contains(v, 0, 4, "SAN "):
        if (i == 0 and _char_at(v, i + 4) == " ") or len(v) == 4 or _contains(
            v, 0, 4, "SAN "
        ):
            r.append("H")
        else:
            r.append("J", "H")
        return i + 1
    if i == 0:
        r.append("J", "A")
    elif (
        _is_vowel(v, i - 1)
        and not slavo
        and (_char_at(v, i + 1) == "A" or _char_at(v, i + 1) == "O")
    ):
        r.append("J", "H")
    elif i == len(v) - 1:
        r.append("J", " ")
    elif not _contains(v, i + 1, 1, *L_T_K_S_N_M_B_Z) and not _contains(
        v, i - 1, 1, "S", "K", "L"
    ):
        r.append("J")
    return i + 2 if _char_at(v, i + 1) == "J" else i + 1


def _handle_l(v: str, r: _DMResult, i: int) -> int:
    if _char_at(v, i + 1) == "L":
        if _condition_l0(v, i):
            r.append_primary("L")
        else:
            r.append("L")
        return i + 2
    r.append("L")
    return i + 1


def _condition_l0(v: str, i: int) -> bool:
    if i == len(v) - 3 and _contains(v, i - 1, 4, "ILLO", "ILLA", "ALLE"):
        return True
    return (
        _contains(v, len(v) - 2, 2, "AS", "OS")
        or _contains(v, len(v) - 1, 1, "A", "O")
    ) and _contains(v, i - 1, 4, "ALLE")


def _condition_m0(v: str, i: int) -> bool:
    if _char_at(v, i + 1) == "M":
        return True
    return _contains(v, i - 1, 3, "UMB") and (
        i + 1 == len(v) - 1 or _contains(v, i + 2, 2, "ER")
    )


def _handle_p(v: str, r: _DMResult, i: int) -> int:
    if _char_at(v, i + 1) == "H":
        r.append("F")
        return i + 2
    r.append("P")
    return i + 2 if _contains(v, i + 1, 1, "P", "B") else i + 1


def _handle_r(v: str, r: _DMResult, i: int, slavo: bool) -> int:
    if (
        i == len(v) - 1
        and not slavo
        and _contains(v, i - 2, 2, "IE")
        and not _contains(v, i - 4, 2, "ME", "MA")
    ):
        r.append_secondary("R")
    else:
        r.append("R")
    return i + 2 if _char_at(v, i + 1) == "R" else i + 1


def _handle_s(v: str, r: _DMResult, i: int, slavo: bool) -> int:
    if _contains(v, i - 1, 3, "ISL", "YSL"):
        return i + 1
    if i == 0 and _contains(v, i, 5, "SUGAR"):
        r.append("X", "S")
        return i + 1
    if _contains(v, i, 2, "SH"):
        if _contains(v, i + 1, 4, "HEIM", "HOEK", "HOLM", "HOLZ"):
            r.append("S")
        else:
            r.append("X")
        return i + 2
    if _contains(v, i, 3, "SIO", "SIA") or _contains(v, i, 4, "SIAN"):
        if slavo:
            r.append("S")
        else:
            r.append("S", "X")
        return i + 3
    if (i == 0 and _contains(v, i + 1, 1, "M", "N", "L", "W")) or _contains(
        v, i + 1, 1, "Z"
    ):
        r.append("S", "X")
        return i + 2 if _contains(v, i + 1, 1, "Z") else i + 1
    if _contains(v, i, 2, "SC"):
        return _handle_sc(v, r, i)
    if i == len(v) - 1 and _contains(v, i - 2, 2, "AI", "OI"):
        r.append_secondary("S")
    else:
        r.append("S")
    return i + 2 if _contains(v, i + 1, 1, "S", "Z") else i + 1


def _handle_sc(v: str, r: _DMResult, i: int) -> int:
    if _char_at(v, i + 2) == "H":
        if _contains(v, i + 3, 2, "OO", "ER", "EN", "UY", "ED", "EM"):
            if _contains(v, i + 3, 2, "ER", "EN"):
                r.append("X", "SK")
            else:
                r.append("SK")
        elif i == 0 and not _is_vowel(v, 3) and _char_at(v, 3) != "W":
            r.append("X", "S")
        else:
            r.append("X")
    elif _contains(v, i + 2, 1, "I", "E", "Y"):
        r.append("S")
    else:
        r.append("SK")
    return i + 3


def _handle_t(v: str, r: _DMResult, i: int) -> int:
    if _contains(v, i, 4, "TION"):
        r.append("X")
        return i + 3
    if _contains(v, i, 3, "TIA", "TCH"):
        r.append("X")
        return i + 3
    if _contains(v, i, 2, "TH") or _contains(v, i, 3, "TTH"):
        if (
            _contains(v, i + 2, 2, "OM", "AM")
            or _contains(v, 0, 4, "VAN ", "VON ")
            or _contains(v, 0, 3, "SCH")
        ):
            r.append("T")
        else:
            r.append("0", "T")
        return i + 2
    r.append("T")
    return i + 2 if _contains(v, i + 1, 1, "T", "D") else i + 1


def _handle_w(v: str, r: _DMResult, i: int) -> int:
    if _contains(v, i, 2, "WR"):
        r.append("R")
        return i + 2
    if i == 0 and (_is_vowel(v, i + 1) or _contains(v, i, 2, "WH")):
        if _is_vowel(v, i + 1):
            r.append("A", "F")
        else:
            r.append("A")
        return i + 1
    if (
        (i == len(v) - 1 and _is_vowel(v, i - 1))
        or _contains(v, i - 1, 5, "EWSKI", "EWSKY", "OWSKI", "OWSKY")
        or _contains(v, 0, 3, "SCH")
    ):
        r.append_secondary("F")
        return i + 1
    if _contains(v, i, 4, "WICZ", "WITZ"):
        r.append("TS", "FX")
        return i + 4
    return i + 1


def _handle_x(v: str, r: _DMResult, i: int) -> int:
    if i == 0:
        r.append("S")
        return i + 1
    if not (
        i == len(v) - 1
        and (
            _contains(v, i - 3, 3, "IAU", "EAU")
            or _contains(v, i - 2, 2, "AU", "OU")
        )
    ):
        r.append("KS")
    return i + 2 if _contains(v, i + 1, 1, "C", "X") else i + 1


def _handle_z(v: str, r: _DMResult, i: int, slavo: bool) -> int:
    if _char_at(v, i + 1) == "H":
        r.append("J")
        return i + 2
    if _contains(v, i + 1, 2, "ZO", "ZI", "ZA") or (
        slavo and i > 0 and _char_at(v, i - 1) != "T"
    ):
        r.append("S", "TS")
    else:
        r.append("S")
    return i + 2 if _char_at(v, i + 1) == "Z" else i + 1
