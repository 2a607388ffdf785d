package nms;

import java.text.Normalizer;
import java.util.Locale;

import org.apache.spark.sql.api.java.UDF1;

/**
 * Combined kernel behind the prepare chain's dmeta column:
 * doubleMetaphone(normalizeForPhonetic(full)) — the Double Metaphone
 * primary code (Lawrence Philips / Apache commons-codec behavior, max
 * length 4; reference rphonetic usage src/matching/mod.rs:83-99) over
 * the reference's phonetic pre-clean (src/matching/mod.rs:54-81).
 *
 * A 1:1 port of name_matcher_spark/functions/phonetic.py (helper per
 * helper, same names) so the two stay diff-able; differential-tested
 * against the Python mirror in tests/test_phonetic.py over golden
 * codes, the fixture name distribution, and random strings. Null
 * input returns "" (the dmeta column's null contract).
 */
public class NmsDoubleMetaphone implements UDF1<String, String> {

  private static final String VOWELS = "AEIOUY";
  private static final String[] SILENT_STARTS = {"GN", "KN", "PN", "WR", "PS"};
  private static final String[] L_R_N_M_B_H_F_V_W_SPACE =
      {"L", "R", "N", "M", "B", "H", "F", "V", "W", " "};
  private static final String[] ES_EP_EB_EL_EY_IB_IL_IN_IE_EI_ER =
      {"ES", "EP", "EB", "EL", "EY", "IB", "IL", "IN", "IE", "EI", "ER"};
  private static final String[] L_T_K_S_N_M_B_Z =
      {"L", "T", "K", "S", "N", "M", "B", "Z"};

  // ----- normalize_for_phonetic (mod.rs:54-81 parity) -----

  static String normalizeForPhonetic(String s) {
    if (s == null) {
      return "";
    }
    String stripped = pyStrip(s);
    String d = Normalizer.normalize(stripped, Normalizer.Form.NFD);
    StringBuilder out = new StringBuilder(d.length());
    for (int i = 0; i < d.length(); ) {
      int cp = d.codePointAt(i);
      i += Character.charCount(cp);
      // Python lowers PER-CODEPOINT (ch.lower()), context-free —
      // via the shared CPython-generated Unicode-14 table, NOT
      // String.toLowerCase (Java 17 ships Unicode 13 tables). The
      // sole 1:N map, U+0130 -> 'i' + U+0307, reduces to 'i' here:
      // the combining dot is non-ASCII/non-special, so the sieve
      // below would drop it regardless.
      int lc = (cp == 0x130) ? 'i' : NmsLowerTable.lower(cp);
      if (lc >= 'a' && lc <= 'z') {
        out.appendCodePoint(lc);
      } else if (lc < 128 && isAsciiPySpace(lc)) {
        if (out.length() > 0 && out.charAt(out.length() - 1) != ' ') {
          out.append(' ');
        }
      } else if (lc == 0xDF) {          // ß
        out.append("ss");
      } else if (lc == 0xE6 || lc == 0x1FD) {  // æ, ǽ
        out.append("ae");
      } else if (lc == 0xF8) {          // ø
        out.append("o");
      } else if (lc == 0x111) {         // đ
        out.append("d");
      }
    }
    int end = out.length();
    while (end > 0 && out.charAt(end - 1) == ' ') {
      end--;
    }
    return out.substring(0, end);
  }

  private static boolean isAsciiPySpace(int cp) {
    return (cp >= 0x9 && cp <= 0xD) || (cp >= 0x1C && cp <= 0x1F) || cp == 0x20;
  }

  static String pyStrip(String s) {
    int a = 0;
    int b = s.length();
    while (a < b) {
      int cp = s.codePointAt(a);
      if (!NmsNormalizeText.isPySpace(cp)) {
        break;
      }
      a += Character.charCount(cp);
    }
    while (b > a) {
      int cp = s.codePointBefore(b);
      if (!NmsNormalizeText.isPySpace(cp)) {
        break;
      }
      b -= Character.charCount(cp);
    }
    return s.substring(a, b);
  }

  // ----- Double Metaphone (primary code) -----

  private static final class Result {
    final StringBuilder primary = new StringBuilder();
    final StringBuilder secondary = new StringBuilder();
    final int maxLen;

    Result(int maxLen) {
      this.maxLen = maxLen;
    }

    void append(String p) {
      append(p, p);
    }

    void append(String p, String s) {
      appendPrimary(p);
      appendSecondary(s);
    }

    void appendPrimary(String p) {
      int room = maxLen - primary.length();
      if (room > 0) {
        primary.append(p, 0, Math.min(p.length(), room));
      }
    }

    void appendSecondary(String s) {
      int room = maxLen - secondary.length();
      if (room > 0) {
        secondary.append(s, 0, Math.min(s.length(), room));
      }
    }

    boolean isComplete() {
      return primary.length() >= maxLen && secondary.length() >= maxLen;
    }
  }

  static String charAt(String v, int i) {
    if (i < 0 || i >= v.length()) {
      return "";
    }
    return v.substring(i, i + 1);
  }

  static boolean contains(String v, int start, int length, String... criteria) {
    if (start < 0 || start + length > v.length()) {
      return false;
    }
    String target = v.substring(start, start + length);
    for (String c : criteria) {
      if (target.equals(c)) {
        return true;
      }
    }
    return false;
  }

  static boolean isVowel(String v, int i) {
    return i >= 0 && i < v.length() && VOWELS.indexOf(v.charAt(i)) >= 0;
  }

  public static String doubleMetaphone(String value) {
    return doubleMetaphone(value, 4);
  }

  public static String doubleMetaphone(String value, int maxLen) {
    if (value == null) {
      return "";
    }
    value = pyStrip(value.toUpperCase(Locale.ROOT));
    if (value.isEmpty()) {
      return "";
    }
    boolean slavo = value.contains("W") || value.contains("K")
        || value.contains("CZ") || value.contains("WITZ");
    int index = 0;
    for (String start : SILENT_STARTS) {
      if (value.startsWith(start)) {
        index = 1;
        break;
      }
    }
    Result r = new Result(maxLen);
    int n = value.length();
    while (!r.isComplete() && index <= n - 1) {
      char ch = value.charAt(index);
      switch (ch) {
        case 'A': case 'E': case 'I': case 'O': case 'U': case 'Y':
          if (index == 0) {
            r.append("A");
          }
          index += 1;
          break;
        case 'B':
          r.append("P");
          index += charAt(value, index + 1).equals("B") ? 2 : 1;
          break;
        case 'Ç':
          r.append("S");
          index += 1;
          break;
        case 'C':
          index = handleC(value, r, index);
          break;
        case 'D':
          index = handleD(value, r, index);
          break;
        case 'F':
          r.append("F");
          index += charAt(value, index + 1).equals("F") ? 2 : 1;
          break;
        case 'G':
          index = handleG(value, r, index, slavo);
          break;
        case 'H':
          index = handleH(value, r, index);
          break;
        case 'J':
          index = handleJ(value, r, index, slavo);
          break;
        case 'K':
          r.append("K");
          index += charAt(value, index + 1).equals("K") ? 2 : 1;
          break;
        case 'L':
          index = handleL(value, r, index);
          break;
        case 'M':
          r.append("M");
          index += conditionM0(value, index) ? 2 : 1;
          break;
        case 'N':
          r.append("N");
          index += charAt(value, index + 1).equals("N") ? 2 : 1;
          break;
        case 'Ñ':
          r.append("N");
          index += 1;
          break;
        case 'P':
          index = handleP(value, r, index);
          break;
        case 'Q':
          r.append("K");
          index += charAt(value, index + 1).equals("Q") ? 2 : 1;
          break;
        case 'R':
          index = handleR(value, r, index, slavo);
          break;
        case 'S':
          index = handleS(value, r, index, slavo);
          break;
        case 'T':
          index = handleT(value, r, index);
          break;
        case 'V':
          r.append("F");
          index += charAt(value, index + 1).equals("V") ? 2 : 1;
          break;
        case 'W':
          index = handleW(value, r, index);
          break;
        case 'X':
          index = handleX(value, r, index);
          break;
        case 'Z':
          index = handleZ(value, r, index, slavo);
          break;
        default:
          index += 1;
      }
    }
    return pyStrip(r.primary.toString());
  }

  private static int handleC(String v, Result r, int i) {
    if (conditionC0(v, i)) {
      r.append("K");
      return i + 2;
    }
    if (i == 0 && contains(v, i, 6, "CAESAR")) {
      r.append("S");
      return i + 2;
    }
    if (contains(v, i, 2, "CH")) {
      return handleCh(v, r, i);
    }
    if (contains(v, i, 2, "CZ") && !contains(v, i - 2, 4, "WICZ")) {
      r.append("S", "X");
      return i + 2;
    }
    if (contains(v, i + 1, 3, "CIA")) {
      r.append("X");
      return i + 3;
    }
    if (contains(v, i, 2, "CC") && !(i == 1 && charAt(v, 0).equals("M"))) {
      return handleCc(v, r, i);
    }
    if (contains(v, i, 2, "CK", "CG", "CQ")) {
      r.append("K");
      return i + 2;
    }
    if (contains(v, i, 2, "CI", "CE", "CY")) {
      if (contains(v, i, 3, "CIO", "CIE", "CIA")) {
        r.append("S", "X");
      } else {
        r.append("S");
      }
      return i + 2;
    }
    r.append("K");
    if (contains(v, i + 1, 2, " C", " Q", " G")) {
      return i + 3;
    }
    if (contains(v, i + 1, 1, "C", "K", "Q") && !contains(v, i + 1, 2, "CE", "CI")) {
      return i + 2;
    }
    return i + 1;
  }

  private static boolean conditionC0(String v, int i) {
    if (contains(v, i, 4, "CHIA")) {
      return true;
    }
    if (i <= 1) {
      return false;
    }
    if (isVowel(v, i - 2)) {
      return false;
    }
    if (!contains(v, i - 1, 3, "ACH")) {
      return false;
    }
    String c = charAt(v, i + 2);
    return (!c.equals("I") && !c.equals("E"))
        || contains(v, i - 2, 6, "BACHER", "MACHER");
  }

  private static int handleCc(String v, Result r, int i) {
    if (contains(v, i + 2, 1, "I", "E", "H") && !contains(v, i + 2, 2, "HU")) {
      if ((i == 1 && charAt(v, i - 1).equals("A"))
          || contains(v, i - 1, 5, "UCCEE", "UCCES")) {
        r.append("KS");
      } else {
        r.append("X");
      }
      return i + 3;
    }
    r.append("K");
    return i + 2;
  }

  private static int handleCh(String v, Result r, int i) {
    if (i > 0 && contains(v, i, 4, "CHAE")) {
      r.append("K", "X");
      return i + 2;
    }
    if (conditionCh0(v, i)) {
      r.append("K");
      return i + 2;
    }
    if (conditionCh1(v, i)) {
      r.append("K");
      return i + 2;
    }
    if (i > 0) {
      if (contains(v, 0, 2, "MC")) {
        r.append("K");
      } else {
        r.append("X", "K");
      }
    } else {
      r.append("X");
    }
    return i + 2;
  }

  private static boolean conditionCh0(String v, int i) {
    if (i != 0) {
      return false;
    }
    if (!contains(v, i + 1, 5, "HARAC", "HARIS")
        && !contains(v, i + 1, 3, "HOR", "HYM", "HIA", "HEM")) {
      return false;
    }
    return !contains(v, 0, 5, "CHORE");
  }

  private static boolean conditionCh1(String v, int i) {
    return contains(v, 0, 4, "VAN ", "VON ")
        || contains(v, 0, 3, "SCH")
        || contains(v, i - 2, 6, "ORCHES", "ARCHIT", "ORCHID")
        || contains(v, i + 2, 1, "T", "S")
        || ((contains(v, i - 1, 1, "A", "O", "U", "E") || i == 0)
            && (contains(v, i + 2, 1, L_R_N_M_B_H_F_V_W_SPACE)
                || i + 2 >= v.length()));
  }

  private static int handleD(String v, Result r, int i) {
    if (contains(v, i, 2, "DG")) {
      if (contains(v, i + 2, 1, "I", "E", "Y")) {
        r.append("J");
        return i + 3;
      }
      r.append("TK");
      return i + 2;
    }
    if (contains(v, i, 2, "DT", "DD")) {
      r.append("T");
      return i + 2;
    }
    r.append("T");
    return i + 1;
  }

  private static int handleG(String v, Result r, int i, boolean slavo) {
    if (charAt(v, i + 1).equals("H")) {
      return handleGh(v, r, i);
    }
    if (charAt(v, i + 1).equals("N")) {
      if (i == 1 && isVowel(v, 0) && !slavo) {
        r.append("KN", "N");
      } else if (!contains(v, i + 2, 2, "EY") && !charAt(v, i + 1).equals("Y") && !slavo) {
        r.append("N", "KN");
      } else {
        r.append("KN");
      }
      return i + 2;
    }
    if (contains(v, i + 1, 2, "LI") && !slavo) {
      r.append("KL", "L");
      return i + 2;
    }
    if (i == 0 && (charAt(v, i + 1).equals("Y")
        || contains(v, i + 1, 2, ES_EP_EB_EL_EY_IB_IL_IN_IE_EI_ER))) {
      r.append("K", "J");
      return i + 2;
    }
    if ((contains(v, i + 1, 2, "ER") || charAt(v, i + 1).equals("Y"))
        && !contains(v, 0, 6, "DANGER", "RANGER", "MANGER")
        && !contains(v, i - 1, 1, "E", "I")
        && !contains(v, i - 1, 3, "RGY", "OGY")) {
      r.append("K", "J");
      return i + 2;
    }
    if (contains(v, i + 1, 1, "E", "I", "Y") || contains(v, i - 1, 4, "AGGI", "OGGI")) {
      if (contains(v, 0, 4, "VAN ", "VON ")
          || contains(v, 0, 3, "SCH")
          || contains(v, i + 1, 2, "ET")) {
        r.append("K");
      } else if (contains(v, i + 1, 3, "IER")) {
        r.append("J");
      } else {
        r.append("J", "K");
      }
      return i + 2;
    }
    r.append("K");
    return charAt(v, i + 1).equals("G") ? i + 2 : i + 1;
  }

  private static int handleGh(String v, Result r, int i) {
    if (i > 0 && !isVowel(v, i - 1)) {
      r.append("K");
      return i + 2;
    }
    if (i == 0) {
      if (charAt(v, i + 2).equals("I")) {
        r.append("J");
      } else {
        r.append("K");
      }
      return i + 2;
    }
    if ((i > 1 && contains(v, i - 2, 1, "B", "H", "D"))
        || (i > 2 && contains(v, i - 3, 1, "B", "H", "D"))
        || (i > 3 && contains(v, i - 4, 1, "B", "H"))) {
      return i + 2;
    }
    if (i > 2 && charAt(v, i - 1).equals("U")
        && contains(v, i - 3, 1, "C", "G", "L", "R", "T")) {
      r.append("F");
    } else if (i > 0 && !charAt(v, i - 1).equals("I")) {
      r.append("K");
    }
    return i + 2;
  }

  private static int handleH(String v, Result r, int i) {
    if ((i == 0 || isVowel(v, i - 1)) && isVowel(v, i + 1)) {
      r.append("H");
      return i + 2;
    }
    return i + 1;
  }

  private static int handleJ(String v, Result r, int i, boolean slavo) {
    if (contains(v, i, 4, "JOSE") || contains(v, 0, 4, "SAN ")) {
      if ((i == 0 && charAt(v, i + 4).equals(" ")) || v.length() == 4
          || contains(v, 0, 4, "SAN ")) {
        r.append("H");
      } else {
        r.append("J", "H");
      }
      return i + 1;
    }
    if (i == 0) {
      r.append("J", "A");
    } else if (isVowel(v, i - 1) && !slavo
        && (charAt(v, i + 1).equals("A") || charAt(v, i + 1).equals("O"))) {
      r.append("J", "H");
    } else if (i == v.length() - 1) {
      r.append("J", " ");
    } else if (!contains(v, i + 1, 1, L_T_K_S_N_M_B_Z)
        && !contains(v, i - 1, 1, "S", "K", "L")) {
      r.append("J");
    }
    return charAt(v, i + 1).equals("J") ? i + 2 : i + 1;
  }

  private static int handleL(String v, Result r, int i) {
    if (charAt(v, i + 1).equals("L")) {
      if (conditionL0(v, i)) {
        r.appendPrimary("L");
      } else {
        r.append("L");
      }
      return i + 2;
    }
    r.append("L");
    return i + 1;
  }

  private static boolean conditionL0(String v, int i) {
    if (i == v.length() - 3 && contains(v, i - 1, 4, "ILLO", "ILLA", "ALLE")) {
      return true;
    }
    return (contains(v, v.length() - 2, 2, "AS", "OS")
            || contains(v, v.length() - 1, 1, "A", "O"))
        && contains(v, i - 1, 4, "ALLE");
  }

  private static boolean conditionM0(String v, int i) {
    if (charAt(v, i + 1).equals("M")) {
      return true;
    }
    return contains(v, i - 1, 3, "UMB")
        && (i + 1 == v.length() - 1 || contains(v, i + 2, 2, "ER"));
  }

  private static int handleP(String v, Result r, int i) {
    if (charAt(v, i + 1).equals("H")) {
      r.append("F");
      return i + 2;
    }
    r.append("P");
    return contains(v, i + 1, 1, "P", "B") ? i + 2 : i + 1;
  }

  private static int handleR(String v, Result r, int i, boolean slavo) {
    if (i == v.length() - 1 && !slavo
        && contains(v, i - 2, 2, "IE")
        && !contains(v, i - 4, 2, "ME", "MA")) {
      r.appendSecondary("R");
    } else {
      r.append("R");
    }
    return charAt(v, i + 1).equals("R") ? i + 2 : i + 1;
  }

  private static int handleS(String v, Result r, int i, boolean slavo) {
    if (contains(v, i - 1, 3, "ISL", "YSL")) {
      return i + 1;
    }
    if (i == 0 && contains(v, i, 5, "SUGAR")) {
      r.append("X", "S");
      return i + 1;
    }
    if (contains(v, i, 2, "SH")) {
      if (contains(v, i + 1, 4, "HEIM", "HOEK", "HOLM", "HOLZ")) {
        r.append("S");
      } else {
        r.append("X");
      }
      return i + 2;
    }
    if (contains(v, i, 3, "SIO", "SIA") || contains(v, i, 4, "SIAN")) {
      if (slavo) {
        r.append("S");
      } else {
        r.append("S", "X");
      }
      return i + 3;
    }
    if ((i == 0 && contains(v, i + 1, 1, "M", "N", "L", "W"))
        || contains(v, i + 1, 1, "Z")) {
      r.append("S", "X");
      return contains(v, i + 1, 1, "Z") ? i + 2 : i + 1;
    }
    if (contains(v, i, 2, "SC")) {
      return handleSc(v, r, i);
    }
    if (i == v.length() - 1 && contains(v, i - 2, 2, "AI", "OI")) {
      r.appendSecondary("S");
    } else {
      r.append("S");
    }
    return contains(v, i + 1, 1, "S", "Z") ? i + 2 : i + 1;
  }

  private static int handleSc(String v, Result r, int i) {
    if (charAt(v, i + 2).equals("H")) {
      if (contains(v, i + 3, 2, "OO", "ER", "EN", "UY", "ED", "EM")) {
        if (contains(v, i + 3, 2, "ER", "EN")) {
          r.append("X", "SK");
        } else {
          r.append("SK");
        }
      } else if (i == 0 && !isVowel(v, 3) && !charAt(v, 3).equals("W")) {
        r.append("X", "S");
      } else {
        r.append("X");
      }
    } else if (contains(v, i + 2, 1, "I", "E", "Y")) {
      r.append("S");
    } else {
      r.append("SK");
    }
    return i + 3;
  }

  private static int handleT(String v, Result r, int i) {
    if (contains(v, i, 4, "TION")) {
      r.append("X");
      return i + 3;
    }
    if (contains(v, i, 3, "TIA", "TCH")) {
      r.append("X");
      return i + 3;
    }
    if (contains(v, i, 2, "TH") || contains(v, i, 3, "TTH")) {
      if (contains(v, i + 2, 2, "OM", "AM")
          || contains(v, 0, 4, "VAN ", "VON ")
          || contains(v, 0, 3, "SCH")) {
        r.append("T");
      } else {
        r.append("0", "T");
      }
      return i + 2;
    }
    r.append("T");
    return contains(v, i + 1, 1, "T", "D") ? i + 2 : i + 1;
  }

  private static int handleW(String v, Result r, int i) {
    if (contains(v, i, 2, "WR")) {
      r.append("R");
      return i + 2;
    }
    if (i == 0 && (isVowel(v, i + 1) || contains(v, i, 2, "WH"))) {
      if (isVowel(v, i + 1)) {
        r.append("A", "F");
      } else {
        r.append("A");
      }
      return i + 1;
    }
    if ((i == v.length() - 1 && isVowel(v, i - 1))
        || contains(v, i - 1, 5, "EWSKI", "EWSKY", "OWSKI", "OWSKY")
        || contains(v, 0, 3, "SCH")) {
      r.appendSecondary("F");
      return i + 1;
    }
    if (contains(v, i, 4, "WICZ", "WITZ")) {
      r.append("TS", "FX");
      return i + 4;
    }
    return i + 1;
  }

  private static int handleX(String v, Result r, int i) {
    if (i == 0) {
      r.append("S");
      return i + 1;
    }
    if (!(i == v.length() - 1
        && (contains(v, i - 3, 3, "IAU", "EAU")
            || contains(v, i - 2, 2, "AU", "OU")))) {
      r.append("KS");
    }
    return contains(v, i + 1, 1, "C", "X") ? i + 2 : i + 1;
  }

  private static int handleZ(String v, Result r, int i, boolean slavo) {
    if (charAt(v, i + 1).equals("H")) {
      r.append("J");
      return i + 2;
    }
    if (contains(v, i + 1, 2, "ZO", "ZI", "ZA")
        || (slavo && i > 0 && !charAt(v, i - 1).equals("T"))) {
      r.append("S", "TS");
    } else {
      r.append("S");
    }
    return charAt(v, i + 1).equals("Z") ? i + 2 : i + 1;
  }

  @Override
  public String call(String s) {
    if (s == null) {
      return "";
    }
    return doubleMetaphone(normalizeForPhonetic(s));
  }
}
