package databricks_end_to_end_streaming_spark.avro;

import java.nio.ByteBuffer;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import org.apache.avro.Schema;
import org.apache.avro.generic.GenericDatumReader;
import org.apache.avro.generic.GenericEnumSymbol;
import org.apache.avro.generic.GenericFixed;
import org.apache.avro.generic.IndexedRecord;
import org.apache.avro.io.BinaryDecoder;
import org.apache.avro.io.DecoderFactory;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;

/**
 * Avro-binary payload to a Spark struct, inside the JVM: the engine's
 * {@code from_avro}. Built by {@code avro/functions.py::decode_avro}
 * through {@link #udf}; the pure-Python codec ({@code codec.py}) is its
 * fallback and its test oracle, so the semantics below mirror
 * {@code codec.decoder_for} and {@code codec.reader_for}:
 *
 * <ul>
 *   <li>The writer schema, the optional reader schema and the mode are
 *       fixed when the UDF is built, not passed per row.
 *   <li>With a reader schema, Avro's own resolution
 *       ({@code GenericDatumReader(writer, reader)}) projects each record
 *       to the reader's shape; absent fields take the reader's defaults.
 *   <li>A NULL payload, a decode error or trailing bytes make a payload
 *       malformed. PERMISSIVE returns a struct of all-null fields for
 *       it; FAILFAST rethrows, failing the task.
 * </ul>
 */
public final class AvroWireDecode implements UDF1<byte[], Row> {
  private final String writerJson;
  private final String readerJson; // null: decode in the writer's shape
  private final boolean failfast;
  // built once per task: the UDF object is deserialized with each task
  private transient Schema writer;
  private transient GenericDatumReader<Object> reader;
  private transient BinaryDecoder decoder;
  private transient Row allNull;

  private AvroWireDecode(String writerJson, String readerJson, boolean failfast) {
    this.writerJson = writerJson;
    this.readerJson = readerJson;
    this.failfast = failfast;
  }

  /**
   * The decode as an unnamed column function returning {@code type}.
   * Unnamed on purpose: a name registered in one session's function
   * registry does not resolve in the cloned session a foreachBatch body
   * runs in.
   */
  public static UserDefinedFunction udf(
      String writerJson, String readerJson, boolean failfast, DataType type) {
    return functions.udf(new AvroWireDecode(writerJson, readerJson, failfast), type);
  }

  @Override
  public Row call(byte[] payload) throws Exception {
    if (reader == null) {
      writer = new Schema.Parser().parse(writerJson);
      Schema read = readerJson == null ? writer : new Schema.Parser().parse(readerJson);
      reader = new GenericDatumReader<>(writer, read);
      allNull = RowFactory.create(new Object[read.getFields().size()]);
    }
    try {
      if (payload == null) {
        throw new IllegalArgumentException("NULL Avro payload");
      }
      // Skip the record once before reading it. A read allocates the
      // length a string or bytes prefix claims before it finds the
      // payload too short, so a garbage prefix can ask for up to 2 GiB
      // and fail the task with an OutOfMemoryError; a skip past the end
      // fails with an EOFException instead, and allocates nothing.
      decoder = DecoderFactory.get().binaryDecoder(payload, decoder);
      GenericDatumReader.skip(writer, decoder);
      if (!decoder.isEnd()) {
        throw new IllegalArgumentException("trailing bytes after the Avro record");
      }
      decoder = DecoderFactory.get().binaryDecoder(payload, decoder);
      return (Row) toSpark(reader.read(null, decoder));
    } catch (Exception e) {
      if (failfast) {
        throw e;
      }
      return allNull;
    }
  }

  /** Avro's generic value to the external type Spark expects. */
  private static Object toSpark(Object v) {
    if (v instanceof IndexedRecord) {
      IndexedRecord r = (IndexedRecord) v;
      Object[] fields = new Object[r.getSchema().getFields().size()];
      for (int i = 0; i < fields.length; i++) {
        fields[i] = toSpark(r.get(i));
      }
      return RowFactory.create(fields);
    }
    if (v instanceof CharSequence || v instanceof GenericEnumSymbol) {
      return v.toString();
    }
    if (v instanceof ByteBuffer) {
      ByteBuffer b = ((ByteBuffer) v).duplicate();
      byte[] out = new byte[b.remaining()];
      b.get(out);
      return out;
    }
    if (v instanceof GenericFixed) {
      return ((GenericFixed) v).bytes();
    }
    if (v instanceof List) {
      List<?> items = (List<?>) v;
      List<Object> out = new ArrayList<>(items.size());
      for (Object x : items) {
        out.add(toSpark(x));
      }
      return out;
    }
    if (v instanceof Map) {
      Map<String, Object> out = new HashMap<>();
      for (Map.Entry<?, ?> e : ((Map<?, ?>) v).entrySet()) {
        out.put(e.getKey().toString(), toSpark(e.getValue()));
      }
      return out;
    }
    return v; // null, boolean, int, long, float, double
  }
}
