package hdfs2cass_spark.jvm;

import java.awt.Transparency;
import java.awt.color.ColorSpace;
import java.awt.image.*;
import java.io.*;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.nio.charset.StandardCharsets;
import java.util.*;
import java.util.regex.*;
import java.util.zip.CRC32;
import javax.imageio.*;
import javax.imageio.event.*;
import javax.imageio.stream.*;
import javax.sound.sampled.*;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.*;

/**
 * Media payloads as Spark SQL functions: the JDK's javax.imageio JPEG, PNG
 * and GIF codecs plus a binary netpbm (P5/P6) parser, which ImageIO lacks,
 * and RIFF/WAVE PCM audio features on javax.sound.sampled. Image formats are
 * recognised by magic bytes. A decode fails, naming the cause, wherever the
 * JDK alone would hand back damaged data: any reader warning (a truncated
 * JPEG), an arithmetic-coded JPEG, a PNG chunk CRC mismatch, a GIF frame
 * outside its logical screen or one whose LZW data ends early, a WAV data
 * chunk shorter than its header declares. Streams are memory-cached, so
 * nothing is written to java.io.tmpdir.
 */
public final class Media {
  private Media() {}

  /** One frame: samples row-major with channels interleaved, each in [0, maxval]. */
  record Pixels(int width, int height, int channels, int maxval, int[] samples) {
    /** Nearest neighbour: target pixel (x, y) takes source pixel (x*W/w, y*H/h). */
    Pixels resized(int w, int h) {
      if (w < 1 || h < 1) throw new IllegalArgumentException("cannot resize to " + w + "x" + h);
      int[] out = new int[w * h * channels];
      for (int y = 0; y < h; y++) {
        for (int x = 0; x < w; x++) {
          int src = (int) ((long) y * height / h) * width + (int) ((long) x * width / w);
          System.arraycopy(samples, src * channels, out, (y * w + x) * channels, channels);
        }
      }
      return new Pixels(w, h, channels, maxval, out);
    }
  }

  /** payload -> (width, height, n_frames, mean, min, max, row_sums) of its first frame. */
  public static final class Decode implements UDF1<byte[], Row> {
    @Override
    public Row call(byte[] b) throws IOException {
      if (b == null) return null;
      List<Pixels> frames = frames(b);
      Pixels p = frames.get(0);
      long[] rows = new long[p.height];
      for (int i = 0; i < p.samples.length; i++) rows[i / (p.width * p.channels)] += p.samples[i];
      IntSummaryStatistics s = Arrays.stream(p.samples).summaryStatistics();
      return RowFactory.create(
          p.width, p.height, frames.size(), s.getAverage(), s.getMin(), s.getMax(), rows);
    }
  }

  /** (payload, width, height) -> its first frame resized, in the payload's format. */
  public static final class Resize implements UDF3<byte[], Integer, Integer, byte[]> {
    @Override
    public byte[] call(byte[] b, Integer width, Integer height) throws IOException {
      if (b == null) return null;
      Pixels p = frames(b).get(0).resized(width, height);
      return switch (format(b)) {
        case "netpbm" -> pnm(p);
        case "JPEG" -> jpeg(p, 85, false); // the quality of the JPEG image query
        // ImageIO's GIF writer indexes up to 256 colours exactly
        default -> write(format(b), image(p), 0, false);
      };
    }
  }

  /**
   * payload -> its frames: each image of a concatenated netpbm stream as its
   * own bytes, each composited GIF frame as a PNG, a PNG or JPEG as itself.
   */
  public static final class Frames implements UDF1<byte[], byte[][]> {
    @Override
    public byte[][] call(byte[] b) throws IOException {
      if (b == null) return null;
      List<byte[]> out = new ArrayList<>();
      if (format(b).equals("netpbm")) {
        for (Pnm p : pnms(b)) out.add(Arrays.copyOfRange(b, p.start, p.end));
      } else if (format(b).equals("GIF")) {
        for (Pixels f : frames(b)) out.add(write("png", image(f), 0, false));
      } else {
        frames(b); // a still image is its own one frame, once it decodes
        out.add(b);
      }
      return out.toArray(new byte[0][]);
    }
  }

  /** (image payload, quality 1-100, progressive) -> its first frame as a JPEG. */
  public static final class JpegEncode implements UDF3<byte[], Integer, Boolean, byte[]> {
    @Override
    public byte[] call(byte[] b, Integer quality, Boolean progressive) throws IOException {
      return b == null ? null : jpeg(frames(b).get(0), quality, progressive);
    }
  }

  /**
   * (indices as a P5 image, palette of 1-256 RGB triples, interlace, transparent index or
   * NULL, background index or NULL for 0) -> a GIF.
   */
  public static final class GifEncode
      implements UDF5<byte[], byte[], Boolean, Integer, Integer, byte[]> {
    @Override
    public byte[] call(byte[] indices, byte[] palette, Boolean interlace, Integer transparent,
        Integer background) throws IOException {
      if (indices == null || palette == null) return null;
      return gif(pnms(indices).get(0).pixels, palette, interlace,
          transparent == null ? -1 : transparent, background == null ? 0 : background);
    }
  }

  /**
   * A RIFF/WAVE payload of 8-, 16-, 24- or 32-bit integer PCM -> (n_channels, sample_rate,
   * n_frames, peak_abs, sum_abs, sum_sq, zero_crossings, duration_ms). The sums are exact over
   * every sample of every channel and fail past 2^63, never wrap; zero crossings are strict sign
   * flips between consecutive frames of one channel.
   */
  public static final class AudioFeatures implements UDF1<byte[], Row> {
    @Override
    public Row call(byte[] b) throws IOException {
      if (b == null) return null;
      AudioInputStream in;
      try {
        if (!new String(b, 0, Math.min(12, b.length), StandardCharsets.ISO_8859_1)
            .matches("(?s)RIFF.{4}WAVE")) {
          throw new UnsupportedAudioFileException("no RIFF/WAVE header");
        }
        in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(b));
      } catch (UnsupportedAudioFileException e) {
        throw new IllegalArgumentException("not a RIFF/WAVE PCM payload: " + e.getMessage(), e);
      }
      AudioFormat f = in.getFormat();
      int bits = f.getSampleSizeInBits();
      int width = bits / 8;
      int ch = f.getChannels();
      boolean signed = f.getEncoding().equals(AudioFormat.Encoding.PCM_SIGNED);
      if (!(signed || f.getEncoding().equals(AudioFormat.Encoding.PCM_UNSIGNED))
          || f.isBigEndian() || bits % 8 != 0 || width < 1 || width > 4
          || f.getFrameSize() != ch * width) {
        throw new IllegalArgumentException("unsupported WAV encoding " + f
            + ": only little-endian 8-, 16-, 24- or 32-bit integer PCM");
      }
      // javax.sound reads a short data chunk without complaint
      byte[] data = in.readAllBytes();
      long frames = in.getFrameLength();
      if (data.length != frames * f.getFrameSize()) {
        throw new IllegalArgumentException(String.format(
            "truncated WAV data chunk: %d of %d bytes", data.length, frames * f.getFrameSize()));
      }
      long peak = 0, sumAbs = 0, sumSq = 0, crossings = 0;
      long[] prev = new long[ch];
      try {
        for (int i = 0; i < data.length; i += width) {
          long v = 0;
          for (int k = width - 1; k >= 0; k--) v = v << 8 | (data[i + k] & 0xff);
          v = signed ? v << (64 - bits) >> (64 - bits) : v - (1L << (bits - 1));
          int c = i / width % ch;
          if (prev[c] * v < 0) crossings++;
          prev[c] = v;
          long a = Math.abs(v);
          peak = Math.max(peak, a);
          sumAbs = Math.addExact(sumAbs, a);
          sumSq = Math.addExact(sumSq, Math.multiplyExact(a, a));
        }
      } catch (ArithmeticException e) {
        throw new ArithmeticException("WAV sample sums overflow a bigint (past 2^63)");
      }
      int rate = (int) f.getSampleRate();
      return RowFactory.create(ch, rate, frames, peak, sumAbs, sumSq, crossings,
          rate == 0 ? 0.0 : frames * 1000.0 / rate);
    }
  }

  static String format(byte[] b) {
    String head = new String(b, 0, Math.min(8, b.length), StandardCharsets.ISO_8859_1);
    if (head.startsWith("P5") || head.startsWith("P6")) return "netpbm";
    if (head.equals("\u0089PNG\r\n\u001a\n")) return "PNG";
    if (head.startsWith("\u00ff\u00d8")) return "JPEG";
    if (head.startsWith("GIF87a") || head.startsWith("GIF89a")) return "GIF";
    throw new IllegalArgumentException(String.format(
        "unknown image format (magic bytes '%s'): not netpbm, PNG, JPEG or GIF",
        HexFormat.of().formatHex(b, 0, head.length())));
  }

  /** Every frame of the payload: a netpbm stream's images, a GIF's composited frames. */
  static List<Pixels> frames(byte[] b) throws IOException {
    String format = format(b);
    if (format.equals("netpbm")) return pnms(b).stream().map(Pnm::pixels).toList();
    if (format.equals("PNG")) checkPngChunks(b);
    if (format.equals("JPEG")) checkJpegProcess(b);
    if (format.equals("GIF")) return gif(b);
    try (Reader in = new Reader(b, format)) {
      return List.of(pixels(in.read(0)));
    }
  }

  /** One image of a netpbm stream and the bytes it spans. */
  private record Pnm(Pixels pixels, int start, int end) {}

  private static final String GAP = "(?:\\s|#[^\\n]*\\n)+"; // whitespace and comments
  private static final Pattern NETPBM =
      Pattern.compile("P([56])" + GAP + "(\\d{1,9})" + GAP + "(\\d{1,9})" + GAP + "(\\d{1,9})\\s");

  /** The binary netpbm images (maxval 1-255) that b holds back to back. */
  private static List<Pnm> pnms(byte[] b) {
    List<Pnm> out = new ArrayList<>();
    for (int off = 0; off < b.length; off = out.get(out.size() - 1).end) {
      String head = new String(b, off, Math.min(b.length - off, 4096), StandardCharsets.ISO_8859_1);
      Matcher m = NETPBM.matcher(head);
      if (!m.lookingAt()) throw new IllegalArgumentException("bad netpbm header at byte " + off);
      int channels = m.group(1).equals("5") ? 1 : 3;
      int w = Integer.parseInt(m.group(2));
      int h = Integer.parseInt(m.group(3));
      int maxval = Integer.parseInt(m.group(4));
      if (w < 1 || h < 1 || maxval < 1 || maxval > 255) {
        throw new IllegalArgumentException("bad netpbm shape " + w + "x" + h + " maxval " + maxval);
      }
      int pos = off + m.end();
      if ((long) w * h * channels > b.length - pos) {
        throw new IllegalArgumentException("truncated netpbm raster at byte " + off);
      }
      int[] s = new int[w * h * channels];
      for (int i = 0; i < s.length; i++) s[i] = b[pos + i] & 0xff;
      out.add(new Pnm(new Pixels(w, h, channels, maxval, s), off, pos + s.length));
    }
    return out;
  }

  private static byte[] pnm(Pixels p) {
    byte[] head = String.format("P%d\n%d %d\n%d\n", p.channels == 1 ? 5 : 6, p.width, p.height,
        p.maxval).getBytes(StandardCharsets.US_ASCII);
    byte[] out = Arrays.copyOf(head, head.length + p.samples.length);
    for (int i = 0; i < p.samples.length; i++) out[head.length + i] = (byte) p.samples[i];
    return out;
  }

  /** ImageIO ignores chunk CRCs: walk the chunks to IEND and check each one. */
  private static void checkPngChunks(byte[] b) {
    ByteBuffer buf = ByteBuffer.wrap(b);
    CRC32 crc = new CRC32();
    for (int pos = 8; ; pos += 12 + buf.getInt(pos)) {
      if (pos + 12 > b.length) throw new IllegalArgumentException("truncated PNG: no IEND chunk");
      int len = buf.getInt(pos);
      String type = new String(b, pos + 4, 4, StandardCharsets.ISO_8859_1);
      if (len < 0 || len > b.length - pos - 12) {
        throw new IllegalArgumentException("truncated PNG: chunk " + type + " overruns it");
      }
      crc.reset();
      crc.update(b, pos + 4, 4 + len);
      if ((int) crc.getValue() != buf.getInt(pos + 8 + len)) {
        throw new IllegalArgumentException("PNG chunk " + type + " CRC mismatch");
      }
      if (type.equals("IEND")) return;
    }
  }

  /** The JDK's libjpeg decodes an arithmetic-coded frame to garbage: refuse one by name. */
  private static void checkJpegProcess(byte[] b) {
    for (int pos = 2; pos + 4 <= b.length && (b[pos] & 0xff) == 0xff; ) {
      int marker = b[pos + 1] & 0xff;
      if (marker == 0xda) return;
      if (marker >= 0xc9 && marker <= 0xcf && marker != 0xcc) {
        throw new IllegalArgumentException(
            String.format("arithmetic-coded JPEG (SOF 0x%02X) is not supported", marker));
      }
      pos += 2 + (ByteBuffer.wrap(b).getShort(pos + 2) & 0xffff);
    }
  }

  /**
   * Every GIF frame composited onto the logical screen as 8-bit RGB: the
   * canvas starts as the background colour (through the global colour table,
   * black without one), transparent pixels leave it as it is, and disposal 2
   * restores the frame's rectangle to the background, disposal 3 the canvas
   * from before the frame.
   */
  private static List<Pixels> gif(byte[] b) throws IOException {
    byte[] plain = b.clone();
    List<GifFrame> frames = gifFrames(plain);
    List<Pixels> out = new ArrayList<>();
    try (Reader in = new Reader(plain, "GIF")) {
      if (frames.isEmpty()) in.read(0); // fails, naming why
      ByteBuffer le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN);
      int sw = le.getShort(6) & 0xffff;
      int sh = le.getShort(8) & 0xffff;
      int at = 13 + 3 * (b[11] & 0xff);
      int bg = colourTable(b[10]) > at - 13
          ? (b[at] & 0xff) << 16 | (b[at + 1] & 0xff) << 8 | (b[at + 2] & 0xff) : 0;
      int[] canvas = new int[sw * sh];
      Arrays.fill(canvas, bg);
      for (int i = 0; i < frames.size(); i++) {
        BufferedImage frame = in.read(i);
        GifFrame f = frames.get(i);
        int w = frame.getWidth();
        int h = frame.getHeight();
        if (f.left + w > sw || f.top + h > sh) {
          throw new IIOException(String.format("GIF frame %d rectangle %dx%d at (%d, %d) is "
              + "outside the %dx%d logical screen", i, w, h, f.left, f.top, sw, sh));
        }
        int[] rows = new int[h]; // raster row -> image row
        int r = 0;
        for (int[] pass : f.interlaced ? INTERLACE : new int[][] {{0, 1}}) {
          for (int y = pass[0]; y < h; y += pass[1]) rows[r++] = y;
        }
        int[] saved = f.disposal == 3 ? canvas.clone() : null;
        IndexColorModel cm = (IndexColorModel) frame.getColorModel();
        int[] idx = frame.getRaster().getPixels(0, 0, w, h, (int[]) null);
        for (int k = 0; k < idx.length; k++) {
          if (idx[k] >= cm.getMapSize()) {
            throw new IIOException("GIF frame " + i + " index " + idx[k] + " outside its palette");
          }
          int y = f.top + rows[k / w];
          if (idx[k] != f.transparent) canvas[y * sw + f.left + k % w] = cm.getRGB(idx[k]);
        }
        out.add(rgb(sw, sh, canvas));
        if (f.disposal == 2) {
          for (int y = f.top * sw + f.left; y < (f.top + h) * sw; y += sw) {
            Arrays.fill(canvas, y, y + w, bg);
          }
        } else if (saved != null) {
          canvas = saved;
        }
      }
    }
    return out;
  }

  private record GifFrame(int left, int top, boolean interlaced, int disposal, int transparent) {}

  /** The GIF interlace passes: (first row, row step). */
  private static final int[][] INTERLACE = {{0, 8}, {4, 8}, {2, 4}, {1, 2}};

  /**
   * Each frame's descriptor and graphic control, read off the block
   * structure. The interlace flags are cleared in b, and the frames
   * de-interlaced here: ImageIO misplaces the rows of interlaced frames
   * 2-4 rows high.
   */
  private static List<GifFrame> gifFrames(byte[] b) {
    List<GifFrame> out = new ArrayList<>();
    ByteBuffer le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN);
    int disposal = 0;
    int transparent = -1;
    try {
      for (int pos = 13 + colourTable(b[10]); pos < b.length && b[pos] != 0x3b; pos++) {
        if (b[pos] == 0x21 && (b[pos + 1] & 0xff) == 0xf9) { // graphic control extension
          disposal = b[pos + 3] >> 2 & 7;
          transparent = (b[pos + 3] & 1) != 0 ? b[pos + 6] & 0xff : -1;
        }
        if (b[pos] == 0x2c) {
          out.add(new GifFrame(le.getShort(pos + 1) & 0xffff, le.getShort(pos + 3) & 0xffff,
              (b[pos + 9] & 0x40) != 0, disposal, transparent));
          b[pos + 9] &= ~0x40;
          disposal = 0;
          transparent = -1;
          pos += 11 + colourTable(b[pos + 9]); // descriptor, local table, LZW code size
        } else {
          pos += 2; // extension introducer and label
        }
        while (pos < b.length && b[pos] != 0) pos += (b[pos] & 0xff) + 1; // data sub-blocks
      }
    } catch (IndexOutOfBoundsException e) {
      throw new IllegalArgumentException("truncated GIF: its header or a block ends early");
    }
    return out;
  }

  /** The byte length of the colour table a GIF flags byte declares. */
  private static int colourTable(byte flags) {
    return (flags & 0x80) != 0 ? 3 << ((flags & 7) + 1) : 0;
  }

  /** Packed 0x..RRGGBB pixels as 3-channel 8-bit samples. */
  private static Pixels rgb(int w, int h, int[] packed) {
    int[] s = new int[w * h * 3];
    for (int i = 0; i < s.length; i++) s[i] = packed[i / 3] >> (16 - 8 * (i % 3)) & 0xff;
    return new Pixels(w, h, 3, 255, s);
  }

  /** A decoded image's samples; a palette image is expanded to RGB. */
  private static Pixels pixels(BufferedImage im) {
    int[] s = im.getRaster().getPixels(0, 0, im.getWidth(), im.getHeight(), (int[]) null);
    if (im.getColorModel() instanceof IndexColorModel cm) {
      for (int i = 0; i < s.length; i++) s[i] = cm.getRGB(s[i]);
      return rgb(im.getWidth(), im.getHeight(), s);
    }
    int maxval = (1 << im.getSampleModel().getSampleSize(0)) - 1;
    return new Pixels(im.getWidth(), im.getHeight(), im.getRaster().getNumBands(), maxval, s);
  }

  /** Gray or RGB, with alpha for 2 or 4 channels, 16-bit when maxval is over 255. */
  private static BufferedImage image(Pixels p) {
    boolean alpha = p.channels % 2 == 0;
    ComponentColorModel cm = new ComponentColorModel(
        ColorSpace.getInstance(p.channels < 3 ? ColorSpace.CS_GRAY : ColorSpace.CS_sRGB), alpha,
        false, alpha ? Transparency.TRANSLUCENT : Transparency.OPAQUE,
        p.maxval > 255 ? DataBuffer.TYPE_USHORT : DataBuffer.TYPE_BYTE);
    WritableRaster raster = cm.createCompatibleWritableRaster(p.width, p.height);
    raster.setPixels(0, 0, p.width, p.height, p.samples);
    return new BufferedImage(cm, raster, false, null);
  }

  private static byte[] jpeg(Pixels p, int quality, boolean progressive) throws IOException {
    if (p.maxval != 255 || (p.channels != 1 && p.channels != 3) || quality < 1 || quality > 100) {
      throw new IllegalArgumentException(String.format("JPEG encodes 8-bit gray or RGB at "
          + "quality 1-100, not %d channels of maxval %d at %d", p.channels, p.maxval, quality));
    }
    return write("jpeg", image(p), quality / 100f, progressive);
  }

  private static byte[] gif(Pixels idx, byte[] palette, boolean interlace, int transparent,
      int background) throws IOException {
    int n = palette.length / 3;
    if (idx.channels != 1 || palette.length % 3 != 0 || n < 1 || n > 256) {
      throw new IllegalArgumentException("a GIF takes one index per pixel and 1-256 colours");
    }
    if (Arrays.stream(idx.samples).anyMatch(k -> k >= n) || transparent >= n || background < 0
        || background >= n) {
      throw new IllegalArgumentException("GIF index outside its " + n + "-colour palette");
    }
    byte[][] rgb = new byte[3][n];
    for (int k = 0; k < 3 * n; k++) rgb[k % 3][k / 3] = palette[k];
    // the writer turns the model's palette into the global colour table and
    // its transparent pixel (none when -1) into the graphic control extension
    BufferedImage im = new BufferedImage(idx.width, idx.height, BufferedImage.TYPE_BYTE_INDEXED,
        new IndexColorModel(8, n, rgb[0], rgb[1], rgb[2], transparent));
    im.getRaster().setPixels(0, 0, idx.width, idx.height, idx.samples);
    byte[] out = write("gif", im, 0, interlace);
    out[11] = (byte) background; // the logical screen's background colour index
    return out;
  }

  /** im in the given format: JPEG quality in (0, 1] when positive, interlaced or progressive. */
  private static byte[] write(String format, BufferedImage im, float quality, boolean progressive)
      throws IOException {
    ImageWriter w = ImageIO.getImageWritersByFormatName(format).next();
    ImageWriteParam param = w.getDefaultWriteParam();
    if (quality > 0) {
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT);
      param.setCompressionQuality(quality);
    }
    param.setProgressiveMode(
        progressive ? ImageWriteParam.MODE_DEFAULT : ImageWriteParam.MODE_DISABLED);
    ByteArrayOutputStream out = new ByteArrayOutputStream();
    try (var ios = new MemoryCacheImageOutputStream(out)) {
      w.setOutput(ios);
      w.write(null, new IIOImage(im, null, null), param);
    } finally {
      w.dispose();
    }
    return out.toByteArray();
  }

  /**
   * An ImageIO reader that fails a read on the first warning, and on a GIF
   * frame whose LZW data ends early: its progress stops short of 100% without
   * a warning. (A progressive JPEG stops short too, but warns when truncated.)
   */
  private static final class Reader
      implements AutoCloseable, IIOReadWarningListener, IIOReadProgressListener {
    final ImageReader r;
    private final ImageInputStream in;
    private final String format;
    private String warning;
    private float progress;

    Reader(byte[] b, String format) {
      this.format = format;
      in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b));
      r = ImageIO.getImageReadersByFormatName(format).next();
      r.addIIOReadWarningListener(this);
      r.addIIOReadProgressListener(this);
      r.setInput(in);
    }

    BufferedImage read(int i) throws IOException {
      BufferedImage im;
      try {
        im = r.read(i);
      } catch (IIOException e) { // its message is often generic: name the cause too
        if (e.getCause() == null) throw e;
        throw new IIOException(e.getMessage() + " (" + e.getCause() + ")");
      }
      if (warning != null) throw new IIOException("corrupt " + format + ": " + warning);
      if (format.equals("GIF") && progress < 100f) {
        throw new IIOException("truncated GIF: frame " + i + " data ends before its last row");
      }
      return im;
    }

    @Override
    public void close() throws IOException {
      r.dispose();
      in.close();
    }

    @Override
    public void warningOccurred(ImageReader r, String w) {
      warning = warning == null ? w : warning;
    }

    @Override public void imageStarted(ImageReader r, int i) { progress = 0; }
    @Override public void imageProgress(ImageReader r, float percent) { progress = percent; }
    @Override public void imageComplete(ImageReader r) {}
    @Override public void sequenceStarted(ImageReader r, int i) {}
    @Override public void sequenceComplete(ImageReader r) {}
    @Override public void thumbnailStarted(ImageReader r, int i, int t) {}
    @Override public void thumbnailProgress(ImageReader r, float percent) {}
    @Override public void thumbnailComplete(ImageReader r) {}
    @Override public void readAborted(ImageReader r) {}
  }
}
