package sparklinkage;

import org.apache.spark.sql.api.java.UDF2;

/**
 * Jaro-Winkler similarity as a JVM UDF -- the engine's hot-path string
 * comparator (SURVEY.md F11/X2). Semantics match DuckDB's
 * jaro_winkler_similarity exactly (the correctness oracle), and the
 * Python pandas-UDF implementation in functions/similarity.py:
 * integer-halved transpositions, 0.0 for empty-vs-empty, Winkler boost
 * threshold 0.7, 4-char prefix cap, null-safe.
 *
 * Registered with the NYSIIS UDF by functions/jvm_udfs.py when the
 * packaged jar is on the classpath; scoring falls back to the Arrow
 * pandas UDF otherwise.
 */
public class JaroWinkler implements UDF2<String, String, Double> {
    @Override
    public Double call(String s1, String s2) {
        if (s1 == null || s2 == null) return null;
        return similarity(s1, s2);
    }

    public static double similarity(String s1, String s2) {
        int len1 = s1.length(), len2 = s2.length();
        if (len1 == 0 || len2 == 0) return 0.0;
        int window = Math.max(Math.max(len1, len2) / 2 - 1, 0);
        boolean[] flags1 = new boolean[len1];
        boolean[] flags2 = new boolean[len2];
        int matches = 0;
        for (int i = 0; i < len1; i++) {
            int lo = Math.max(0, i - window);
            int hi = Math.min(len2, i + window + 1);
            char c = s1.charAt(i);
            for (int j = lo; j < hi; j++) {
                if (!flags2[j] && s2.charAt(j) == c) {
                    flags1[i] = true;
                    flags2[j] = true;
                    matches++;
                    break;
                }
            }
        }
        if (matches == 0) return 0.0;
        int transpositions = 0;
        int j = 0;
        for (int i = 0; i < len1; i++) {
            if (flags1[i]) {
                while (!flags2[j]) j++;
                if (s1.charAt(i) != s2.charAt(j)) transpositions++;
                j++;
            }
        }
        int t = transpositions / 2;  // integer halving, as DuckDB does
        double m = matches;
        double jaro = (m / len1 + m / len2 + (m - t) / m) / 3.0;
        if (jaro > 0.7) {
            int prefix = 0;
            int pw = Math.min(4, Math.min(len1, len2));
            for (int i = 0; i < pw; i++) {
                if (s1.charAt(i) == s2.charAt(i)) prefix++;
                else break;
            }
            jaro += prefix * 0.1 * (1 - jaro);
        }
        return jaro;
    }
}
