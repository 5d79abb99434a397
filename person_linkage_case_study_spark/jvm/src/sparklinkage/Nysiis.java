package sparklinkage;

import java.util.Locale;

import org.apache.spark.sql.api.java.UDF1;

/**
 * NYSIIS phonetic code as a JVM UDF. A line-for-line port of
 * functions/phonetics.py nysiis (the reference and the pandas-UDF path):
 * upper-case with full case mapping, keep only letters, head and tail
 * substitutions, a left-to-right scan with contextual rewrites and
 * repeat dedup, then tail cleanup. It works on code points, as Python
 * strings do, so every input gives the Python function's code; NULL gives
 * NULL.
 *
 * Registered with the Jaro-Winkler UDF by functions/jvm_udfs.py when the
 * packaged jar is on the classpath; preprocessing falls back to the Arrow
 * pandas UDF otherwise.
 */
public class Nysiis implements UDF1<String, String> {
    @Override
    public String call(String name) {
        if (name == null) return null;
        return encode(name);
    }

    private static boolean isVowel(int c) {
        return c == 'A' || c == 'E' || c == 'I' || c == 'O' || c == 'U';
    }

    /** True when s[i:] starts with lit (an ASCII literal). */
    private static boolean at(int[] s, int n, int i, String lit) {
        if (i < 0 || i + lit.length() > n) return false;
        for (int k = 0; k < lit.length(); k++) {
            if (s[i + k] != lit.charAt(k)) return false;
        }
        return true;
    }

    private static boolean endsWith(int[] s, int n, String lit) {
        return at(s, n, n - lit.length(), lit);
    }

    /** s with its first `drop` code points replaced by lit. */
    private static int[] replaceHead(int[] s, int n, int drop, String lit) {
        int[] out = new int[n - drop + lit.length()];
        for (int k = 0; k < lit.length(); k++) out[k] = lit.charAt(k);
        System.arraycopy(s, drop, out, lit.length(), n - drop);
        return out;
    }

    public static String encode(String name) {
        int[] s = name.toUpperCase(Locale.ROOT).codePoints()
            .filter(Character::isLetter).toArray();
        int n = s.length;
        if (n == 0) return "";

        // 1. head substitutions
        if (at(s, n, 0, "MAC")) s = replaceHead(s, n, 3, "MCC");
        else if (at(s, n, 0, "KN")) s = replaceHead(s, n, 2, "NN");
        else if (at(s, n, 0, "K")) s = replaceHead(s, n, 1, "C");
        else if (at(s, n, 0, "PH") || at(s, n, 0, "PF")) s = replaceHead(s, n, 2, "FF");
        else if (at(s, n, 0, "SCH")) s = replaceHead(s, n, 3, "SSS");
        n = s.length;

        // 2. tail substitutions
        if (endsWith(s, n, "EE") || endsWith(s, n, "IE")) {
            s[n - 2] = 'Y';
            n -= 1;
        } else if (endsWith(s, n, "DT") || endsWith(s, n, "RT") || endsWith(s, n, "RD")
                || endsWith(s, n, "NT") || endsWith(s, n, "ND")) {
            s[n - 2] = 'D';
            n -= 1;
        }

        // 3. first character of key = first character of (rewritten) name;
        // each scan step adds at most as many codes as it consumes
        int[] key = new int[n];
        int k = 0;
        key[k++] = s[0];

        // 4. scan with contextual rewrites; ts holds each position's
        // translated form so the H/W rules see the rewritten neighbour
        int[] ts = java.util.Arrays.copyOf(s, n);
        int i = 1;
        while (i < n) {
            int ch = s[i];
            int[] repl;
            int skip = 1;
            if (at(s, n, i, "EV")) {
                repl = new int[] {'A', 'F'};
                skip = 2;
            } else if (isVowel(ch)) {
                repl = new int[] {'A'};
            } else if (ch == 'Q') {
                repl = new int[] {'G'};
            } else if (ch == 'Z') {
                repl = new int[] {'S'};
            } else if (ch == 'M') {
                repl = new int[] {'N'};
            } else if (at(s, n, i, "KN")) {
                repl = new int[] {'N'};
                skip = 2;
            } else if (ch == 'K') {
                repl = new int[] {'C'};
            } else if (at(s, n, i, "SCH")) {
                repl = new int[] {'S', 'S', 'S'};
                skip = 3;
            } else if (at(s, n, i, "PH")) {
                repl = new int[] {'F', 'F'};
                skip = 2;
            } else if (ch == 'H' && (!isVowel(s[i - 1]) || i + 1 >= n || !isVowel(s[i + 1]))) {
                // H not between vowels (or at the end) -> previous translated char
                repl = new int[] {ts[i - 1]};
            } else if (ch == 'W' && isVowel(s[i - 1])) {
                repl = new int[] {ts[i - 1]};
            } else {
                repl = new int[] {ch};
            }
            for (int j = 0; j < skip && i + j < n; j++) {
                ts[i + j] = repl[Math.min(j, repl.length - 1)];
            }
            for (int r : repl) {
                if (r != key[k - 1]) key[k++] = r;
            }
            i += skip;
        }

        // 5. tail cleanup
        if (k > 1 && key[k - 1] == 'S') k -= 1;
        if (k > 2 && key[k - 2] == 'A' && key[k - 1] == 'Y') {
            key[k - 2] = 'Y';
            k -= 1;
        }
        if (k > 1 && key[k - 1] == 'A') k -= 1;
        return new String(key, 0, k);
    }
}
